"""The ``queries`` workload: a fixed slice of ``bench.HEADLINE``.

Each query runs once untimed (the warm pass), where its result is compared
with the DuckDB oracle on the same tables, normalised and compared as the
repository's oracle gate (tests/test_oracle_parity.py) does; then the slice
runs through the noop sink in two timed rounds, keeping each query's best
wall time, as bench.py does, and each round's CPU time.  A query without
an oracle is checked for a stable fingerprint across two evaluations
instead.
"""

from __future__ import annotations

import gc
import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

from bench import HEADLINE
from cpu import Meter
from paas_auditor_spark.queries import REGISTRY
from tests.test_oracle_parity import _normalize

# Five of the ROADMAP tail queries of bench.HEADLINE, the target of an
# optimisation of the analytics layers (perfbench/README.md says why the
# other five are left out), and two that stand for the other families:
# the service's own cursor query and a TPC-H-like aggregate (both also
# control queries in bench.py).
TAIL = ["cdc_near_dup", "cdc_chunk_stats", "minhash_near_dup",
        "triangle_count", "chunk_quality_prune"]
OTHERS = ["unshipped_events", "pricing_summary"]
SLICE = [q for q in HEADLINE if q in set(TAIL + OTHERS)]
ROUNDS = 2  # best of two wall times, as bench.py


def fingerprint(norm: pd.DataFrame) -> str:
    """Row count and digest of a result normalised by ``_normalize``
    (columns by name, dtypes widened, rows sorted)."""
    digest = hashlib.sha256(norm.to_csv(index=False).encode()).hexdigest()
    return f"{len(norm)}:{digest[:16]}"


def differs(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """How ``got`` differs from ``want``, compared as the oracle gate
    compares them; None when they agree."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                      atol=0, rtol=0)
    except AssertionError as ex:
        return " ".join(str(ex).split())[:300]
    return None


def oracle_results(data_dir: str, names) -> dict[str, pd.DataFrame]:
    con = duckdb.connect()
    try:
        for f in os.listdir(data_dir):
            table = f.removesuffix(".parquet")
            path = os.path.join(data_dir, f)
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        return {n: _normalize(con.execute(REGISTRY[n].oracle).df())
                for n in names if REGISTRY[n].oracle}
    finally:
        con.close()


def result(spark, data_dir: str, name: str, group: str) -> pd.DataFrame:
    spark.sparkContext.setJobGroup(group, name)
    return _normalize(REGISTRY[name].fn(spark, data_dir).toPandas())


def warm_pass(spark, data_dir: str) -> tuple[dict, list, float, float]:
    """Run each query once and check its result; returns the fingerprints,
    the violations, the Spark time and the oracle time."""
    t0 = time.perf_counter()
    got = {n: result(spark, data_dir, n, f"warm:{n}") for n in SLICE}
    t1 = time.perf_counter()
    want = oracle_results(data_dir, SLICE)
    t2 = time.perf_counter()
    violations = [f"{n}: {why}" for n in want
                  if (why := differs(got[n], want[n])) is not None]
    return ({n: fingerprint(df) for n, df in got.items()}, violations,
            t1 - t0, t2 - t1)


def timed_round(spark, data_dir: str, rnd: int, tracer,
                jobs) -> tuple[dict, float]:
    """Each query's wall time, and the CPU time of the whole round."""
    walls = {}
    meter = Meter(spark)
    cpu_start = meter()
    for name in SLICE:
        group = f"q{rnd}:{name}"
        spark.sparkContext.setJobGroup(group, name)
        with tracer.span("query", op=group):
            t0 = time.perf_counter()
            with tracer.span("query.build"):
                df = REGISTRY[name].fn(spark, data_dir)
            with tracer.span("query.exec"):
                df.write.format("noop").mode("overwrite").save()
            walls[name] = time.perf_counter() - t0
        jobs.record(group)
        # free localCheckpoint blocks before the next query, as bench.py does
        df = None
        gc.collect()
    return walls, meter() - cpu_start


def run_queries(spark, data_dir: str, tracer, jobs) -> dict:
    prints, violations, spark_s, oracle_s = warm_pass(spark, data_dir)
    rounds, cpus = zip(*(timed_round(spark, data_dir, r, tracer, jobs)
                         for r in range(ROUNDS)))
    rechecked = [n for n in SLICE if not REGISTRY[n].oracle]
    for name in rechecked:
        again = fingerprint(result(spark, data_dir, name, f"recheck:{name}"))
        if again != prints[name]:
            violations.append(f"{name}: fingerprint {prints[name]} "
                              f"then {again}")
    for v in violations:
        print(f"# check failed: {v}", file=sys.stderr)
    return {"warm_s": spark_s, "oracle_s": oracle_s, "rounds": rounds,
            "round_cpu_s": cpus,
            "violations": violations, "fingerprints": prints,
            "rechecked": rechecked}
