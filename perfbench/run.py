"""Benchmark of the engine: the service pipeline and the analytics queries.

Usage (from the root of the repository):

    python3 perfbench/run.py --workload pipeline|queries \
        --seed N --seconds S --trace 0|1

Workloads (perfbench/README.md says why each was chosen):

- ``pipeline``: over a bulk-loaded, shipped history, the service catches up
  on a backlog (closed loop), then tails a source fed at 500 events/s
  (open loop) for at least ``--seconds``.
- ``queries``: a fixed slice of ``bench.HEADLINE`` on tables generated from
  the seed, timed best-of-two through the noop sink after an
  untimed warm pass.

With ``--trace 0`` the last line of stdout is one JSON object carrying the
end-to-end metrics; with ``--trace 1`` the run also records spans around
every call into the program's layers and the JSON carries the per-layer
metrics.  The lines before it start with ``#`` and report every figure,
the correctness verdict, the environment and the load average.  The run
writes only under ``perfbench/.work``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import numpy as np  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CPUS = 4
# A fixed heap and young generation keep the JVM's share of peak RSS from
# depending on when G1 chose to resize them, which it decides from pause
# times and so from the load on the host; a fixed set of JIT compiler
# threads lets cpu.Meter leave their time out (cpu.py says why).
JVM_OPTIONS = "-Xms2g -Xmn768m -XX:-UseDynamicNumberOfCompilerThreads"
DRIVER_MEMORY = "2g"
QUERY_SETUPS = 3  # an odd count: the median is one real set-up

E2E = {"setup_s": "s", "cpu_ms_per_item": "ms", "peak_rss_mb": "MB"}
STORE_CALLS = ["latest_event_time", "overlap_keys_df", "append_events",
               "unshipped_events", "upsert_cursor", "event_count"]
TICKS = ("collector", "shipper", "informer")
TICK_LAYERS = {
    **{f"runner.{k}_tick_s": "s" for k in TICKS},
    "runner.jobs_per_tick": "count",
    "fetch.pages": "count", "fetch.source_s": "s",
    **{f"{k}.self_s": "s" for k in TICKS},
    **{f"store.{m}_s": "s" for m in STORE_CALLS},
    "sink.send_s": "s",
}
LAYERS = {
    **TICK_LAYERS,
    **{f"catchup.{k}": u for k, u in TICK_LAYERS.items()
       if "informer" not in k},
    "collector.fresh_ratio": "ratio", "store.files": "count",
    "ship.deliveries": "count", "ship.dup_ratio": "ratio",
    "ship.send_failures": "count",
    "catchup_eps": "1/s", "ingest_eps": "1/s", "ship_eps": "1/s",
    "ingest_vs_base": "ratio", "ship_vs_base": "ratio",
    "freshness_p50_s": "s", "freshness_p99_s": "s", "gen.late_s": "s",
    "live.cycle_cpu_s": "s",
    "query.warm_s": "s", "query.build_s": "s", "query.exec_s": "s",
    "query.unattributed_s": "s", "query.jobs": "count",
    "query.stages": "count", "query.tasks": "count",
    "query_total_s": "s", "query_p50_s": "s", "query_p90_s": "s",
    "failed_ratio": "ratio", "trace.spans": "count",
    "trace.cpu_ms_per_item": "ms",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=tuple(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(workdir: str) -> None:
    """Point every scratch location of Python and Spark inside ``workdir``
    and make the package importable here and in Spark's Python workers."""
    shutil.rmtree(workdir, ignore_errors=True)
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    import tempfile

    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '{JVM_OPTIONS} -Djava.io.tmpdir={tmp}' "
        "pyspark-shell")
    sys.path.insert(0, ROOT)


def pct(values, p: float) -> float:
    """Percentile ``p`` (0-100), linearly interpolated; 0 when empty."""
    return float(np.percentile(values, p)) if len(values) else 0.0


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this process plus the JVM it launched."""
    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass  # no procfs: the Python side alone is reported
    return total_kb / 1024.0


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit: the JVM leaves
    when its stdin closes."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def environment(spark) -> dict:
    keep = ("spark.master", "spark.driver.memory",
            "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
            "spark.sql.session.timeZone",
            "spark.sql.adaptive.coalescePartitions.parallelismFirst")
    conf = dict(spark.sparkContext.getConf().getAll())
    return {"cores": os.cpu_count(), "spark": spark.version,
            "python": sys.version.split()[0], "jvm_options": JVM_OPTIONS,
            "conf": {k: conf.get(k) for k in keep}}


# -- pipeline workload --------------------------------------------------------

def tick_layers(tracer, jobs, phase: str) -> dict:
    """Per-layer figures from the spans of one phase's ticks.  A tick's wall
    time is its children (source pages, store calls, sink sends) plus its
    self time, the remainder spent in the runner itself; times are medians
    per tick or per call."""
    from spans import duration

    kids = tracer.children()
    walls = {k: [] for k in TICKS}
    selfs = {k: [] for k in TICKS}
    store: dict[str, list[float]] = {}
    source, sink, jobs_per_tick = [], [], []
    pages = 0
    for s in tracer.spans:
        if s["phase"] != phase or not s["name"].startswith("tick."):
            continue
        kind = s["name"][5:]
        children = kids.get(s["id"], [])
        walls[kind].append(duration(s))
        selfs[kind].append(duration(s) - sum(duration(c) for c in children))
        for c in children:
            if c["name"].startswith("store."):
                store.setdefault(c["name"], []).append(duration(c))
        if kind == "collector":
            fetch = [duration(c) for c in children
                     if c["name"] == "fetch.page"]
            source.append(sum(fetch))
            pages += len(fetch)
        if kind == "shipper":
            sink.append(sum(duration(c) for c in children
                            if c["name"] == "sink.send"))
        if s["op"] in jobs.groups:
            jobs_per_tick.append(jobs.groups[s["op"]][0])
    out = {f"runner.{k}_tick_s": median(v) for k, v in walls.items()}
    out.update({f"{k}.self_s": median(v) for k, v in selfs.items()})
    out.update({f"store.{m}_s": median(store.get(f"store.{m}", []))
                for m in STORE_CALLS})
    out["runner.jobs_per_tick"] = (statistics.fmean(jobs_per_tick)
                                   if jobs_per_tick else 0.0)
    out["fetch.pages"] = pages
    out["fetch.source_s"] = median(source)
    out["sink.send_s"] = median(sink)
    return out


def pipeline(spark, args, workdir, tracer, jobs, session_s):
    import pipeline as wl

    res = wl.run_pipeline(spark, args.seed, args.seconds, workdir, tracer,
                          jobs)
    p = res["pipeline"]
    rounds = res["rounds"]
    fresh = res["freshness"]
    e2e = {
        "setup_s": session_s + median(res["setup_times"]) + res["warmup_s"],
        "cpu_ms_per_item": 1000 * median(r["cpu_s"] / r["n"] for r in rounds),
    }
    live = res["live_counts"]
    send_failures = int(p.counts()["send_failures"])
    # wall-time rates: the best round, as in bench.py's best-of protocol
    # (contention from outside only ever slows a round down)
    ingest = max(r["n"] / r["collect_s"] for r in rounds)
    ship = max(r["n"] / r["ship_s"] for r in rounds)
    catchup = tick_layers(tracer, jobs, "catchup")
    layers = {
        **tick_layers(tracer, jobs, "live"),
        **{f"catchup.{k}": v for k, v in catchup.items()
           if "informer" not in k},
        "collector.fresh_ratio": (live["collected"] / live["served"]
                                  if live["served"] else 0.0),
        "store.files": p.files(),
        "ship.deliveries": live["deliveries"],
        "ship.dup_ratio": (live["deliveries"] / live["distinct"] - 1
                           if live["distinct"] else 0.0),
        "ship.send_failures": send_failures,
        "catchup_eps": max(r["n"] / r["wall_s"] for r in rounds),
        "ingest_eps": ingest, "ship_eps": ship,
        "ingest_vs_base": ingest / wl.BASE_FETCH_EPS,
        "ship_vs_base": ship / wl.BASE_SHIP_EPS,
        "freshness_p50_s": pct(fresh, 50),
        "freshness_p99_s": pct(fresh, 99),
        "gen.late_s": pct(res["generator"].late, 99),
        "live.cycle_cpu_s": res["cycle_cpu_s"],
    }
    for v in p.violations[:20]:
        print(f"# check failed: {v}", file=sys.stderr)
    attempted = p.ticks + p.deliveries
    failed = p.failed_ticks + send_failures + len(p.violations)
    return e2e, layers, attempted, failed, {
        "session_s": session_s, "history_load_s": res["setup_times"],
        "catchup_wall_s": [r["wall_s"] for r in rounds],
        "catchup_cpu_s": [r["cpu_s"] for r in rounds],
        "warmup_s": res["warmup_s"], "live_events": res["measured"],
        "freshness_samples": len(fresh), "live_cycles": res["cycles"]}


# -- queries workload ---------------------------------------------------------

def queries(spark, args, workdir, tracer, jobs, session_s):
    import analytics
    import datagen
    from spans import duration

    data_dir = os.path.join(workdir, "data")
    gen_times = []
    for _ in range(QUERY_SETUPS):
        t0 = time.perf_counter()
        datagen.write_tables(args.seed, data_dir)
        gen_times.append(time.perf_counter() - t0)
    res = analytics.run_queries(spark, data_dir, tracer, jobs)
    rounds = res["rounds"]
    # best of the two timed rounds, as bench.py
    per_query = {n: min(r[n] for r in rounds) for n in analytics.SLICE}
    walls = list(per_query.values())
    e2e = {
        "setup_s": session_s + median(gen_times) + res["warm_s"],
        "cpu_ms_per_item": 1000 * median(c / len(analytics.SLICE)
                                         for c in res["round_cpu_s"]),
    }
    kids = tracer.children()
    by_round: dict[str, list[float]] = {}
    for s in tracer.spans:
        if s["name"] != "query":
            continue
        acc = by_round.setdefault(s["op"].split(":")[0], [0.0] * 6)
        parts = {c["name"]: duration(c) for c in kids.get(s["id"], [])}
        acc[0] += parts.get("query.build", 0.0)
        acc[1] += parts.get("query.exec", 0.0)
        acc[2] += duration(s) - sum(parts.values())
        for i, v in enumerate(jobs.groups.get(s["op"], (0, 0, 0))):
            acc[3 + i] += v
    cols = list(zip(*by_round.values())) or [()] * 6
    layers = {
        "query.warm_s": res["warm_s"],
        "query.build_s": median(cols[0]), "query.exec_s": median(cols[1]),
        "query.unattributed_s": median(cols[2]),
        "query.jobs": median(cols[3]), "query.stages": median(cols[4]),
        "query.tasks": median(cols[5]),
        "query_total_s": sum(walls),
        "query_p50_s": pct(walls, 50), "query_p90_s": pct(walls, 90),
        **{f"query.{n}_s": per_query[n] for n in analytics.TAIL},
    }
    attempted = (len(analytics.SLICE) * (1 + len(rounds))
                 + len(res["rechecked"]))
    return e2e, layers, attempted, len(res["violations"]), {
        "rounds": len(rounds), "queries": len(analytics.SLICE),
        "session_s": session_s, "datagen_s": gen_times,
        "oracle_s": res["oracle_s"], "round_cpu_s": res["round_cpu_s"],
        "fingerprints": res["fingerprints"],
        "per_query_s": per_query}


WORKLOADS = {"pipeline": pipeline, "queries": queries}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "paas_auditor_spark")):
        print(f"error: no paas_auditor_spark package next to {HERE}",
              file=sys.stderr)
        return 2
    workdir = os.path.join(WORK, args.workload)
    prepare_env(workdir)
    load_start = os.getloadavg()

    import analytics
    from paas_auditor_spark.session import get_spark
    from spans import JobStats, Tracer

    spark = get_spark(app_name="paas-auditor-perfbench", cpus=CPUS)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - T_START
        tracer = Tracer(bool(args.trace))
        jobs = JobStats(spark, bool(args.trace))
        e2e, found, attempted, failed, report = WORKLOADS[args.workload](
            spark, args, workdir, tracer, jobs, session_s)
        e2e["peak_rss_mb"] = peak_rss_mb(spark)
        env = environment(spark)
    finally:
        stop_jvm(spark)
    units = {**LAYERS, **{f"query.{n}_s": "s" for n in analytics.TAIL}}
    layers = dict.fromkeys(units, 0)
    layers.update(found)
    layers["failed_ratio"] = failed / attempted if attempted else 1.0
    layers["trace.spans"] = len(tracer.spans)
    layers["trace.cpu_ms_per_item"] = e2e["cpu_ms_per_item"]
    load_end = os.getloadavg()

    for name, value in e2e.items():
        print(f"# {name} = {value:.6g} {E2E[name]}")
    for name, value in layers.items():
        print(f"# {name} = {value:.6g} {units[name]}")
    print(f"# correct={failed == 0} attempted={attempted} failed={failed}")
    print(f"# workload: {json.dumps(report)[:800]}")
    print(f"# environment: {json.dumps(env)}")
    print(f"# loadavg start={list(load_start)} end={list(load_end)}")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        tracer.write(os.path.join(WORK, f"spans-{tag}.json"))
    with open(os.path.join(WORK, f"run-{tag}.json"), "w") as fh:
        json.dump({"args": vars(args), "environment": env,
                   "loadavg": [load_start, load_end], "workload": report,
                   "e2e": e2e, "layers": layers, "attempted": attempted,
                   "failed": failed}, fh, indent=1)
    chosen = layers if args.trace else e2e
    chosen_units = units if args.trace else E2E
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": chosen_units[k]}
                    for k, v in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
