"""Closed-loop workloads: one client runs registry queries back to back.

Each query goes through the public surface only, ``plans.QUERIES[name]
(spark, sf_dir)`` then ``.collect()``.  Between queries the harness reads
what the query left behind in the session (before the drain), then drains
cached and persisted data with blocking unpersists so that cleanup never
lands inside the next query's timed region.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import threading
import time

QUERY_TIMEOUT_S = 60.0
# untimed passes before the timed ones, so that no timed execution is a
# query's first
WARM_PASSES = 1
# at least 40 timed executions, so that p75 always has ten samples beyond
# it and the tail percentile does not drop to p50 on a slow host
MIN_PASSES = 5


class SessionLeaks:
    """Session state a query leaves behind, read through the JVM session."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.catalog = spark._jsparkSession.sessionState().catalog()

    def views(self) -> set[str]:
        return {v for v in self.catalog.getTempViewNames().mkString("\n").split("\n") if v}

    def conf(self) -> set[str]:
        # one py4j round trip: every "(key,value)" pair in one string
        return set(self.spark._jsparkSession.conf().getAll().mkString("\x01").split("\x01"))

    def snapshot(self) -> tuple[set[str], set[str]]:
        return self.views(), self.conf()

    def since(self, before: tuple[set[str], set[str]]) -> dict[str, int]:
        added = self.views() - before[0]
        changed = {kv.split(",", 1)[0] for kv in self.conf() ^ before[1]}
        sinks = {v for v in added if v.startswith("mem_")}
        return {
            "leaked_rdds": self.jsc.getPersistentRDDs().size(),
            "leaked_views": len(added - sinks),
            "leaked_sink_tables": len(sinks),
            "conf_changes": len(changed),
        }

    def drain(self) -> None:
        """Blocking cleanup between queries (the repo's bench drain)."""
        self.spark.catalog.clearCache()
        it = self.jsc.getPersistentRDDs().values().iterator()
        while it.hasNext():
            it.next().unpersist(True)


def catalyst_ms(df) -> dict[str, float]:
    """Analysis / optimization / planning time of the returned DataFrame,
    from its QueryExecution phase tracker."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] = float(kv._2().durationMs())
    return out


def run_query(spark, plans, sf_dir: str, name: str, qid: str, leaks: SessionLeaks, traced: bool) -> dict:
    """One closed-loop request: build, collect, read leaks, drain."""
    sc = spark.sparkContext
    groups = (f"{qid}.build", f"{qid}.collect")
    fired = threading.Event()

    def cancel() -> None:
        fired.set()
        for g in groups:
            sc.cancelJobGroup(g)

    watchdog = threading.Timer(QUERY_TIMEOUT_S, cancel)
    before = leaks.snapshot()
    ex = {"name": name, "qid": qid, "error": None, "rows": None}
    watchdog.start()
    ex["t_start"] = time.time()
    try:
        sc.setJobGroup(groups[0], name)
        df = plans.QUERIES[name](spark, sf_dir)
        ex["t_built"] = time.time()
        sc.setJobGroup(groups[1], name)
        ex["rows"] = df.collect()
        ex["t_collected"] = time.time()
        ex["schema"] = df.schema
    except Exception as e:  # a failing query is counted, the loop goes on
        ex["error"] = ("timeout: " if fired.is_set() else "") + f"{type(e).__name__}: {str(e)[:300]}"
        df = None
    finally:
        watchdog.cancel()
    now = time.time()
    ex.setdefault("t_built", now)
    ex.setdefault("t_collected", now)
    sc.setJobGroup(f"{qid}.harness", name)
    ex["leaks"] = leaks.since(before)
    ex["t_drain"] = time.time()
    leaks.drain()
    ex["t_end"] = time.time()
    if traced and df is not None:
        ex["catalyst_ms"] = catalyst_ms(df)
    return ex


def run_pass(spark, plans, sf_dir: str, order: list[str], tag: str, leaks: SessionLeaks, traced: bool) -> list[dict]:
    return [run_query(spark, plans, sf_dir, name, f"{tag}q{i}", leaks, traced) for i, name in enumerate(order)]


def warm(spark, plans, sf_dir: str, names: list[str]) -> None:
    """Untimed passes, so that timed passes see generated code and
    JIT-compiled paths that the first executions of each query pay for."""
    leaks = SessionLeaks(spark)
    for w in range(WARM_PASSES):
        run_pass(spark, plans, sf_dir, names, f"w{w}", leaks, False)


def run(spark, plans, sf_dir: str, names: list[str], seed: int, seconds: float, traced: bool) -> list[list[dict]]:
    """Timed passes over ``names``, each in a seeded shuffled order, until
    at least ``seconds`` of measuring and ``MIN_PASSES`` passes; returns
    the executions of each pass."""
    rng = random.Random(seed)
    leaks = SessionLeaks(spark)
    passes: list[list[dict]] = []
    t0 = time.time()
    while len(passes) < MIN_PASSES or time.time() - t0 < seconds:
        order = list(names)
        rng.shuffle(order)
        passes.append(run_pass(spark, plans, sf_dir, order, f"p{len(passes)}", leaks, traced))
    spark.sparkContext.setJobGroup("harness", "checks")
    return passes


class _Collected:
    """Collected rows in the shape ``check_oracle.compare`` reads."""

    def __init__(self, spark, rows, schema):
        self.spark, self.rows, self.schema = spark, rows, schema

    def toPandas(self):  # noqa: N802 (DataFrame API casing)
        return self.spark.createDataFrame(self.rows, self.schema).toPandas()


def check(spark, plans, check_oracle, sf_dir: str, passes: list[list[dict]], verdicts_path: str) -> None:
    """Sets ``ok``/``verdict`` on every execution.  Each distinct result
    is compared with its DuckDB oracle once; verdicts are kept in
    ``verdicts_path`` keyed by the comparator's source, the query, its
    oracle, the input directory and the exact result, so a result equal
    to one already compared, in this run or an earlier one, shares its
    verdict."""
    with open(check_oracle.__file__, "rb") as fh:
        comparator = hashlib.sha256(fh.read()).hexdigest()
    try:
        with open(verdicts_path) as fh:
            verdicts = json.load(fh)
    except FileNotFoundError:
        verdicts = {}
    con = None
    for ex in (e for p in passes for e in p):
        if ex["error"]:
            ex["ok"], ex["verdict"] = False, ex["error"]
            continue
        sql = plans.ORACLES.get(ex["name"])
        h = hashlib.sha256("\0".join((comparator, sf_dir, ex["name"], sql or "")).encode())
        for r in sorted(repr(tuple(r)) for r in ex["rows"]):
            h.update(r.encode() + b"\n")
        key = h.hexdigest()
        if key not in verdicts:
            con = con or check_oracle.duck_connection(sf_dir)
            verdicts[key] = check_oracle.compare(ex["name"], _Collected(spark, ex["rows"], ex["schema"]), con, sql)
        ex["ok"], ex["verdict"] = verdicts[key]
    if con is not None:
        con.close()
    tmp = verdicts_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(verdicts, fh)
    os.replace(tmp, verdicts_path)
