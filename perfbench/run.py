"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload plan_cold --seed 1 --seconds 12 --trace 0

Run from the repository root. One run generates the workload's inputs
from ``--seed``, starts a Spark session and warms it (the timed set-up),
then calls the workload's entries in a closed loop with one client for
``--seconds`` seconds, rotating their order every pass. Each sample runs
from the call that builds the DataFrame to the end of its ``count()``.
Afterwards every entry's full result is checked against its DuckDB
oracle. The last line of standard output is one JSON object: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (a traced run, which also writes spans and a per-query
table to ``.perfbench/``). The exit code is 0 only if every sample and
every oracle check was correct. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import time
import traceback
from pathlib import Path

import datagen
from probes import RssSampler, SparkCounters, Tracer, host_cpu, process_tree
from workloads import DERIVED_TABLES, WORKLOADS, sql_text, tables_read

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
STATE_DIR = ROOT / ".perfbench"

# Host-fit launch. The session factory's 16g default heap is pre-touched
# at JVM start and cannot be committed on a 15 GB host; 3g runs every
# entry here at the benchmark's scale. Python workers are started by the
# JVM and need the repository on their path.
DRIVER_MEM = "3g"

E2E_UNITS = {
    "latency_gmean_s": "s",
    "throughput_qps": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "catalog.register_s": "s",
    "catalog.cache_fill_s": "s",
    "parser.parse_s": "s",
    "plans.context_s": "s",
    "api.sql_s": "s",
    "api.plan_time_jobs": "count",
    "api.plan_cache_hit_ratio": "ratio",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "operators.build_s": "s",
    "operators.python_run_s": "s",
    "operators.python_bytes_sent": "bytes",
    "operators.python_bytes_returned": "bytes",
    "host.steal_s": "s",
    "host.cpu_busy_s": "s",
}
# layers a traced sample's wall time is split into (self times)
LAYERS = ("parser", "plans", "api", "operators", "catalyst", "exec")


def host_env() -> dict[str, str]:
    """Set and return the environment the session is launched with.
    Temporary files of Python, the JVM and DuckDB stay in the checkout."""
    tmp = STATE_DIR / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_LOCAL_DIRS": str(STATE_DIR / "spark-local"),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def gmean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


class EngineRun:
    """One workload run: session, entries, samples and checks."""

    def __init__(self, workload, data_dir, entry_mod, tracer):
        self.workload = workload
        self.data_dir = data_dir
        self.entry_mod = entry_mod
        self.tracer = tracer
        self.failures: list[str] = []
        self.first_count: dict[str, int] = {}
        self.last_df: dict = {}

    # -- set-up ---------------------------------------------------------------
    def setup(self, rss) -> dict[str, float]:
        from pyspark import SparkContext

        from sparksqlplus_spark import SparkSQLPlus, get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench")
        rss.jvm_pid = SparkContext._gateway.proc.pid
        t1 = time.perf_counter()
        eng = SparkSQLPlus(self.spark)
        eng.register_testdata(self.data_dir)
        for name in tables_read(self.entry_mod, self.workload)[1]:
            sql, pk, _ = DERIVED_TABLES[name]
            df = eng.sql(getattr(self.entry_mod, sql), mode="spark").persist()
            eng.register(name, df, primary_key=pk)
        # operator entries look their engine up by (session, data dir)
        self.entry_mod._ENGINES[(id(self.spark), self.data_dir)] = eng
        self.eng = eng
        t2 = time.perf_counter()
        for meta in eng.catalog.tables():
            if meta.df is not None:
                meta.df = meta.df.cache()
                meta.df.count()
        t3 = time.perf_counter()
        self._prepare_entries()
        for name in self.workload.entries:
            self.sample(name, record_first=True)
        t4 = time.perf_counter()
        return {
            "setup_s": t4 - t0,
            "warmup_s": t4 - t3,
            "session.start_s": t1 - t0,
            "catalog.register_s": t2 - t1,
            "catalog.cache_fill_s": t3 - t2,
        }

    def _prepare_entries(self) -> None:
        callables = self.entry_mod.queries()
        self.builders = {}
        for name in self.workload.entries:
            text = sql_text(self.entry_mod, name)
            if text is None:
                fn = callables[name]
                self.builders[name] = (
                    lambda fn=fn: fn(self.spark, self.data_dir), False
                )
            else:
                self.builders[name] = (lambda text=text: self.eng.sql(text), True)

    # -- samples ----------------------------------------------------------------
    def sample(self, name: str, record_first: bool = False):
        """Build and count one entry; returns (wall seconds, ok)."""
        build, _ = self.builders[name]
        if self.workload.cold:
            self.eng.clear_plan_cache()
        try:
            t0 = time.perf_counter()
            df = build()
            n = df.count()
            wall = time.perf_counter() - t0
        except Exception:  # a failed sample is counted, and the run goes on
            self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
            return None, False
        self.last_df[name] = df
        if record_first:
            self.first_count[name] = n
        return wall, self._count_ok(name, n)

    def _count_ok(self, name: str, n: int) -> bool:
        if n == self.first_count.get(name):
            return True
        self.failures.append(f"{name}: count {n} != first count "
                             f"{self.first_count.get(name)}")
        return False

    def traced_sample(self, name: str, qid: int, counters):
        """A sample with spans and counters; returns (wall, ok, record)."""
        build, is_sql = self.builders[name]
        if self.workload.cold:
            self.eng.clear_plan_cache()
        tr, sc = self.tracer, self.spark.sparkContext
        tr.qid = qid
        since_ms = time.time() * 1000.0
        last_exec = counters.last_execution_id()
        try:
            with tr.span("sample"):
                sc.setJobGroup(f"perfbench-plan-{qid}", name)
                if is_sql:
                    df = build()
                else:
                    with tr.span("operators.build"):
                        df = build()
                sc.setJobGroup(f"perfbench-exec-{qid}", name)
                with tr.span("exec.action"):
                    # the plan count() builds, kept so its tracker can be read
                    cdf = df.groupBy().count()
                    n = cdf.collect()[0][0]
        except Exception:
            self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
            return None, False, None
        self.last_df[name] = df
        wall = tr.total(qid, "sample")
        ok = self._count_ok(name, n)
        counters.drain()
        rec = {"query": name, "qid": qid, "wall_s": wall}
        rec.update(counters.jobs(f"perfbench-exec-{qid}"))
        rec["api.plan_time_jobs"] = len(
            sc.statusTracker().getJobIdsForGroup(f"perfbench-plan-{qid}")
        )
        built = counters.phases(df, since_ms)
        action = counters.phases(cdf, since_ms)
        rec.update({k: built[k] + action[k] for k in action})
        rec.update(counters.python_metrics(last_exec))
        rec["api.sql_s"] = tr.total(qid, "api.sql")
        rec["operators.build_s"] = tr.total(qid, "operators.build")
        rec["exec.action_s"] = tr.total(qid, "exec.action")
        # self times: the layers partition the sample's wall time; the
        # built plan's analysis ran inside the build call
        st = tr.self_times(qid)
        cat_built, cat_action = sum(built.values()), sum(action.values())
        rec["parser.parse_s"] = st.get("parser.parse", 0.0)
        rec["plans.context_s"] = st.get("plans.context", 0.0)
        rec["layers"] = {
            "parser": rec["parser.parse_s"],
            "plans": rec["plans.context_s"],
            "api": st.get("api.sql", 0.0) - (cat_built if is_sql else 0.0),
            "operators": st.get("operators.build", 0.0)
            - (0.0 if is_sql else cat_built),
            "catalyst": cat_built + cat_action,
            "exec": st.get("exec.action", 0.0) - cat_action,
        }
        return wall, ok, rec

    # -- oracle -----------------------------------------------------------------
    def oracle_check(self, base_tables) -> int:
        """Compare every entry's last result with its DuckDB oracle."""
        import duckdb

        from tests.helpers import assert_matches

        oracles = self.entry_mod.oracle_sql()
        con = duckdb.connect()
        try:
            for t in base_tables:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for name in self.workload.entries:
                try:
                    assert_matches(self.last_df[name], con, oracles[name])
                except Exception:
                    self.failures.append(
                        f"{name} oracle: {traceback.format_exc(limit=2)}"
                    )
        finally:
            con.close()
        return len(self.workload.entries)


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for every process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    tree = process_tree(gw.proc.pid)
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 20
    for pid in tree:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, 9)
                break
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def install_wrappers(tracer, hits: dict) -> None:
    """Wrap the engine's parse, context and sql entry points with spans."""
    from sparksqlplus_spark import api

    api.parse_statement = tracer.wrap(api.parse_statement, "parser.parse")
    api.build_context = tracer.wrap(api.build_context, "plans.context")
    sql = api.SparkSQLPlus.sql

    def traced_sql(self, query, *args, **kwargs):
        if not tracer.active:
            return sql(self, query, *args, **kwargs)
        outer = not tracer.inside("api.sql")
        # a hit returns a plan the cache held before the call
        held = list(self._plan_cache.values()) if outer else []
        with tracer.span("api.sql"):
            df = sql(self, query, *args, **kwargs)
        if outer:
            hits["calls"] += 1
            hits["hits"] += any(df is v for v in held)
        return df

    api.SparkSQLPlus.sql = traced_sql


def timed_phase(run, order, seconds, traced, counters):
    """Closed loop over whole rotating passes until ``seconds`` have
    elapsed, and at least one: every entry gets the same number of
    samples, so the throughput does not depend on where the last pass
    was cut. A traced run orders its passes untraced, traced, traced,
    untraced and ends on a whole block of four, so that the tracing
    overhead is measured against passes at the same point of the run."""
    samples, records = [], []
    cpu0, load0 = host_cpu(), os.getloadavg()[0]
    t0 = time.perf_counter()
    deadline = t0 + seconds

    def more(p: int) -> bool:
        if traced and p % 4 != 0:
            return True
        return p == 0 or time.perf_counter() < deadline

    p = qid = 0
    while more(p):
        k = p % len(order)
        tracing = traced and p % 4 in (1, 2)
        run.tracer.active = tracing
        for name in order[k:] + order[:k]:
            if tracing:
                t = time.perf_counter()
                wall, ok, rec = run.traced_sample(name, qid, counters)
                if rec is not None:
                    records.append(rec)
                    # reading counters is not sampling: it extends the run
                    deadline += time.perf_counter() - t - wall
            else:
                wall, ok = run.sample(name)
            samples.append({"query": name, "wall_s": wall, "ok": ok, "traced": tracing})
            qid += 1
        p += 1
    run.tracer.active = False
    t1 = time.perf_counter()
    cpu1 = host_cpu()
    host = {k: cpu1[k] - cpu0[k] for k in cpu0}
    host["load1"] = max(load0, os.getloadavg()[0])
    return samples, records, t1 - t0, host


def per_query_medians(samples, traced: bool | None) -> dict[str, float]:
    walls: dict[str, list[float]] = {}
    for s in samples:
        if s["ok"] and (traced is None or s["traced"] == traced):
            walls.setdefault(s["query"], []).append(s["wall_s"])
    return {q: statistics.median(w) for q, w in walls.items()}


def layer_metrics(records, setup, host, hits) -> dict[str, float]:
    out = {k: setup[k] for k in ("session.start_s", "catalog.register_s",
                                 "catalog.cache_fill_s")}
    for key in LAYER_UNITS:
        if key in out or key.startswith("host.") or key == "api.plan_cache_hit_ratio":
            continue
        out[key] = statistics.fmean(r[key] for r in records) if records else 0.0
    out["api.plan_cache_hit_ratio"] = (
        hits["hits"] / hits["calls"] if hits["calls"] else 1.0
    )
    out["host.steal_s"] = host["host.steal_s"]
    out["host.cpu_busy_s"] = host["host.cpu_busy_s"]
    return out


def query_table(records) -> list[dict]:
    """Per query: medians of traced wall and of each layer's self time."""
    by_q: dict[str, list[dict]] = {}
    for r in records:
        by_q.setdefault(r["query"], []).append(r)
    rows = []
    for q, rs in by_q.items():
        wall = statistics.median(r["wall_s"] for r in rs)
        mean_wall = statistics.fmean(r["wall_s"] for r in rs)
        layers = {
            L: statistics.fmean(r["layers"][L] for r in rs) for L in LAYERS
        }
        rows.append({
            "query": q,
            "samples": len(rs),
            "wall_median_s": wall,
            "layers_mean_s": layers,
            "layer_sum_share": sum(layers.values()) / mean_wall,
        })
    return rows


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "sparksqlplus_spark" / "__init__.py").is_file() or not (
        ROOT / "__spark_entry__.py"
    ).is_file():
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    env = host_env()
    sys.path.insert(1, str(ROOT))
    try:
        import __spark_entry__ as entry_mod
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    sf = workload.sf
    data_dir = str(STATE_DIR / "data" / f"{workload.name}-sf{sf}-seed{args.seed}")
    base, _ = tables_read(entry_mod, workload)
    datagen.write_tables(data_dir, args.seed, sf, names=base)

    tracer = Tracer()
    hits = {"calls": 0, "hits": 0}
    if args.trace:
        install_wrappers(tracer, hits)
    run = EngineRun(workload, data_dir, entry_mod, tracer)
    rss = RssSampler()
    rss.start()
    try:
        setup = run.setup(rss)
        order = list(workload.entries)
        random.Random(args.seed).shuffle(order)
        counters = SparkCounters(run.spark) if args.trace else None
        samples, records, timed_s, host = timed_phase(
            run, order, args.seconds, bool(args.trace), counters
        )
        rss.stop()
        checked = run.oracle_check(base)
    finally:
        rss.stop()  # idempotent: the peak excludes the oracle check
        if hasattr(run, "spark"):
            stop_session(run.spark)

    ok_samples = [s for s in samples if s["ok"]]
    # warm-up samples + timed samples + oracle checks
    attempted = len(workload.entries) + len(samples) + checked
    failed = len(run.failures)
    medians = per_query_medians(samples, traced=False)
    correct = failed == 0 and len(per_query_medians(samples, None)) == len(
        workload.entries
    )
    stamps = {
        "workload": workload.name, "seed": args.seed, "sf": sf,
        "trace": args.trace, "samples": len(samples), "timed_s": timed_s,
        "error_rate": failed / attempted, "oracle_checked": checked,
        "host.steal_s": host["host.steal_s"],
        "host.cpu_busy_s": host["host.cpu_busy_s"], "load1": host["load1"],
        "env": env,
        "setup": setup,
        "query_medians_s": medians,
    }
    if args.trace:
        metrics = layer_metrics(records, setup, host, hits)
        units = LAYER_UNITS
        traced_m = per_query_medians(samples, traced=True)
        common = [q for q in traced_m if q in medians]
        overhead = (
            gmean([traced_m[q] / medians[q] for q in common]) - 1.0 if common else None
        )
        table = query_table(records)
        stamps["trace_overhead"] = overhead
        stamps["max_unaccounted_share"] = max(
            (abs(1.0 - r["layer_sum_share"]) for r in table), default=None
        )
        trace_path = STATE_DIR / f"trace-{workload.name}-seed{args.seed}.json"
        with open(trace_path, "w") as f:
            json.dump({
                "stamps": stamps, "metrics": metrics, "queries": table,
                "samples": records,
                "spans": [vars(s) for s in tracer.spans],
            }, f, indent=1)
        for row in table:
            print(f"perfbench: {row['query']:<24} wall={row['wall_median_s']:.3f}s "
                  + " ".join(f"{L}={v:.3f}" for L, v in row["layers_mean_s"].items())
                  + f" sum/wall={row['layer_sum_share']:.3f}", file=sys.stderr)
        stamps["trace_file"] = str(trace_path.relative_to(ROOT))
    else:
        lat = [medians[q] for q in medians]
        metrics = {
            "latency_gmean_s": gmean(lat) if lat else 0.0,
            "throughput_qps": len(ok_samples) / timed_s,
            "setup_s": setup["setup_s"],
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }
        units = E2E_UNITS
    for msg in run.failures:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    with open(STATE_DIR / "runs.jsonl", "a") as f:
        f.write(json.dumps({"stamps": stamps, "metrics": metrics}) + "\n")
    print("perfbench " + json.dumps(stamps))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
