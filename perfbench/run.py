#!/usr/bin/env python3
"""Benchmark of the hive_population_ml_spark engine. Run it from the
repository root:

    python3 perfbench/run.py --workload model_train --seed 1 --seconds 10 --trace 0

One run generates the workload's inputs from ``--seed``, sets a session
up ``SETUPS`` times, runs one untimed warm-up pass, checks the warm-up's
oracle-backed outputs against DuckDB, and then runs timed closed-loop
passes (one client: each op is issued after the previous one completes),
the workload's minimum number and more while less than ``--seconds`` of
pass time has been measured, checking the output of every op. With
``--trace 1`` it then restarts the session with the Spark event log on
and runs as many traced passes.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything the run writes goes under ``.perfbench/`` in the current
directory. perfbench/README.md describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import re
import shutil
import statistics
import sys
import time

PACKAGE = "hive_population_ml_spark"
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Two task slots: with them the driver's Python, the JVM's compiler and
# collector threads and the Python workers already keep about three of
# four cores busy, and fewer workers make the tree's memory steadier.
CPUS = min(2, os.cpu_count() or 1)
# The JVM heap is fixed at this size (-Xms = -Xmx): a heap that grows on
# demand makes the tree's peak RSS depend on when the collector ran.
DRIVER_MEMORY = "2g"
SETUPS = 3
# Timed passes a run makes at least, whatever its --seconds. The JVM is
# still warming over the first passes, so a run that made more passes
# would report lower medians; at the run_seconds of BENCHMARK.json every
# run makes exactly this many.
MIN_PASSES = 2
# An op slower than this counts as failed (it is not interrupted).
OP_TIMEOUT_S = 60.0
# Spark configuration of the traced session: an uncompressed event log
# in one plain file per application.
TRACE_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}
PYTHON_NODE = re.compile(r"(InPandas|InArrow|EvalPython|WindowPython)$")


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest latency percentile with at least 10 samples above
    it: ``(value, percentile, samples above)``. Runs with fewer than 11
    samples report their minimum."""
    s = sorted(xs)
    i = max(0, len(s) - 11)
    return s[i], 100.0 * i / max(1, len(s) - 1), len(s) - 1 - i


class Runner:
    def __init__(self, workload, seed: int, work: str):
        self.w, self.seed, self.work = workload, seed, work
        self.spark = None
        self.traced = False
        self.corpora = 0
        self.data_dir = self.inputs(f"s{seed}", seed)
        self.ref_rows: dict[str, int] = {}

    # --- inputs --------------------------------------------------------------

    def inputs(self, tag: str, seed: int) -> str:
        import gen

        out = os.path.join(self.work, "data", f"{self.w.name}-{tag}")
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        info = gen.generate(out, seed, self.w.scale, self.w.tables)
        took = time.perf_counter() - t0
        sizes = ", ".join(f"{t} {v['rows']} rows/{v['bytes']} B" for t, v in info.items())
        print(f"inputs {tag} (seed {seed}, scale {self.w.scale}, {took:.2f} s): {sizes}")
        return out

    def pass_dir(self) -> str:
        """The input directory of the next pass. A workload that reads a
        fresh corpus every pass gets one generated for it alone: the
        package's index memos outlive a session restart, so the traced
        passes need corpora of their own as well."""
        if not self.w.fresh_corpus:
            return self.data_dir
        self.corpora += 1
        return self.inputs(f"s{self.seed}-c{self.corpora}", self.seed * 1000 + self.corpora)

    # --- session -------------------------------------------------------------

    def setup(self) -> dict:
        """One session set-up: import the package, build the session, load
        the query registry, and scan every input table once. A set-up
        after the first stops the session and drops the package's modules
        first, so it repeats all of that except the JVM launch."""
        if self.spark is not None:
            self.spark.stop()
            for m in [m for m in sys.modules if m.split(".")[0] == PACKAGE]:
                del sys.modules[m]
        t0 = time.perf_counter()
        from hive_population_ml_spark.io.sources import load_table
        from hive_population_ml_spark.queries import load_all
        from hive_population_ml_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.w.name}", cpus=CPUS)
        t1 = time.perf_counter()
        load_all()
        t2 = time.perf_counter()
        for t in self.w.tables:
            load_table(self.spark, self.data_dir, t).count()
        t3 = time.perf_counter()
        return {"get_spark_s": t1 - t0, "registry_s": t2 - t1, "warmup_s": t3 - t2,
                "setup_s": t3 - t0}

    def enable_trace(self, log_dir: str) -> None:
        """Restart the session with the event log on. ``get_spark`` takes
        no extra configuration, so the settings go in as JVM system
        properties, which every new SparkConf reads."""
        from hive_population_ml_spark.session import get_spark
        from pyspark import SparkContext

        self.spark.stop()
        os.makedirs(log_dir, exist_ok=True)
        props = SparkContext._jvm.java.lang.System
        for k, v in (TRACE_CONF | {"spark.eventLog.dir": "file://" + log_dir}).items():
            props.setProperty(k, v)
        self.spark = get_spark(f"perfbench-{self.w.name}-traced", cpus=CPUS)
        self.traced = True

    # --- ops and passes ------------------------------------------------------

    def run_op(self, ctx, op, group: str) -> dict:
        from pyspark.sql import DataFrame

        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        sc.setJobGroup(group, group)
        rec = {"op": op.name, "group": group, "phases": {}}
        res = None
        try:
            sc.setJobDescription("construct")
            t = time.time()
            built = op.construct(ctx)
            rec["phases"]["construct"] = (t, time.time())
            if self.traced:
                rec["construct_jobs"] = len(tracker.getJobIdsForGroup(group))
                if isinstance(built, DataFrame):
                    sc.setJobDescription("plan")
                    t = time.time()
                    plan = built._jdf.queryExecution().executedPlan().toString()
                    rec["phases"]["plan"] = (t, time.time())
                    heads = [ln.lstrip(" :+-*").split(" ")[0].split("(")[0]
                             for ln in plan.splitlines()]
                    rec["exchanges"] = sum(h.endswith("Exchange") for h in heads)
                    rec["python_nodes"] = sum(bool(PYTHON_NODE.search(h)) for h in heads)
            sc.setJobDescription("action")
            t = time.time()
            res = op.action(ctx, built)
            rec["phases"]["action"] = (t, time.time())
        except Exception as e:  # an op that raises is a failed op
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            sc._jsc.clearJobGroup()
        ph = rec["phases"]
        rec["start"] = ph["construct"][0] if "construct" in ph else time.time()
        rec["latency_s"] = sum(b - a for a, b in ph.values())
        if self.traced:
            job_ids = tracker.getJobIdsForGroup(group)
            stages = set()
            for j in job_ids:
                info = tracker.getJobInfo(j)
                stages.update(info.stageIds if info else ())
            rec["jobs"], rec["stages"] = len(job_ids), len(stages)
        if "error" not in rec:
            rec["rows"], rec["error"] = self.check(op, res, rec["latency_s"])
        rec["result"] = res
        return rec

    def check(self, op, res, latency: float) -> tuple[int | None, str | None]:
        """The result's row count, and why the output is wrong, if it is."""
        if latency > OP_TIMEOUT_S:
            return None, f"timed out: {latency:.1f} s > {OP_TIMEOUT_S} s"
        rows = op.rows(res)
        ref = self.ref_rows.setdefault(op.name, rows)
        if rows != ref:
            return rows, f"{rows} rows, the warm-up pass gave {ref}"
        if rows == 0:
            return rows, "empty result"
        return rows, op.check(res)

    def run_pass(self, p, data_dir: str, rerun: frozenset = frozenset()) -> list[dict]:
        """One pass over the op list. Ops named in ``rerun`` run a second
        time right after, on the same input, as ``<op>.rerun``."""
        import workloads

        ctx = workloads.Ctx(self.spark, data_dir)
        recs = []
        for op in self.w.ops:
            rec = self.run_op(ctx, op, f"{self.w.name}:{op.name}:{p}")
            recs.append(rec)
            if op.name in rerun:
                again = self.run_op(ctx, op, f"{self.w.name}:{op.name}.rerun:{p}")
                again["op"] = op.name + ".rerun"
                again["result"] = None
                rec["rerun"] = again
            if p != "warmup":
                rec["result"] = None
        self.w.end_pass(ctx)
        return recs

    def timed_passes(self, seconds: float, count: int | None = None, rerun=frozenset()):
        """Closed-loop passes until ``seconds`` of pass time (and at least
        ``MIN_PASSES``), or exactly ``count`` passes. Returns the passes
        and the peak RSS of the process tree while they ran."""
        import procstat

        passes, pid = [], os.getpid()
        rss = procstat.PeakRss(pid).start()
        while True:
            p = len(passes) + 1
            data_dir = self.pass_dir()
            cpu0 = procstat.cpu_seconds(pid)
            t0 = time.perf_counter()
            recs = self.run_pass(p, data_dir, rerun)
            wall = time.perf_counter() - t0
            cpu = procstat.cpu_seconds(pid) - cpu0
            wall -= sum(r["rerun"]["latency_s"] for r in recs if "rerun" in r)
            passes.append({"pass": p, "wall_s": wall, "cpu_s": cpu, "ops": recs})
            print(f"pass {p}: {wall:.3f} s, cpu {cpu:.2f} s; "
                  + " ".join(f"{r['op']}={r['latency_s']:.3f}/{r.get('rows')}" for r in recs), flush=True)
            if count is not None:
                if len(passes) >= count:
                    break
            elif sum(x["wall_s"] for x in passes) >= seconds and len(passes) >= MIN_PASSES:
                break
        return passes, rss.stop()


def oracle_check(data_dir: str, tables, results: dict) -> dict[str, str | None]:
    """Compare each oracle-backed op's warm-up result with its DuckDB
    oracle (ORACLE or SHADOW_ORACLE SQL) on the same inputs: column
    names, row count and order-insensitive values, doubles rounded to 9
    digits as the package's own oracle tests do."""
    import duckdb

    from hive_population_ml_spark.queries import ORACLE, SHADOW_ORACLE
    from hive_population_ml_spark.testing import _normalize

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    try:
        for name, tbl in results.items():
            sql = ORACLE.get(name) or SHADOW_ORACLE.get(name)
            if sql is None or not hasattr(tbl, "to_pandas"):
                continue
            s = tbl.to_pandas()
            try:
                d = con.execute(sql).df()
            except Exception as e:
                out[name] = f"oracle SQL failed: {str(e)[:200]}"
                continue
            if sorted(s.columns) != sorted(d.columns):
                out[name] = f"columns {sorted(s.columns)} vs oracle {sorted(d.columns)}"
            elif len(s) != len(d):
                out[name] = f"{len(s)} rows vs oracle {len(d)}"
            else:
                bad = sum(a != b for a, b in zip(_normalize(s), _normalize(d)))
                out[name] = f"{bad} rows differ from the oracle" if bad else None
    finally:
        con.close()
    return out


def trace_metrics(r: Runner, passes: list[dict], log_dir: str) -> tuple[dict, list[dict]]:
    """Fold the event log per job group into per-pass layer metrics.
    Returns the median over the traced passes of each, and the jobs the
    log lists."""
    import eventlog

    groups, jobs = eventlog.fold(eventlog.read_events(log_dir))
    by_group: dict[str, dict] = {}
    for (g, _desc), tot in groups.items():
        acc = by_group.setdefault(g, {c: 0 for c in eventlog.COUNTERS} | {"job_durations": []})
        for c in eventlog.COUNTERS:
            acc[c] += tot[c]
        acc["job_durations"] += tot["job_durations"]
    per_pass: dict[str, list[float]] = {}

    def put(name: str, v: float) -> None:
        per_pass.setdefault(name, []).append(v)

    empty = {c: 0 for c in eventlog.COUNTERS} | {"job_durations": []}
    for ps in passes:
        ops = ps["ops"]
        sp = {c: sum(by_group.get(o["group"], empty)[c] for o in ops) for c in eventlog.COUNTERS}
        ph = lambda o, k: (lambda a: a[1] - a[0])(o["phases"].get(k, (0, 0)))  # noqa: E731
        put("queries.construct_s", sum(ph(o, "construct") for o in ops))
        put("queries.construct_jobs", sum(o.get("construct_jobs", 0) for o in ops))
        put("queries.plan_s", sum(ph(o, "plan") for o in ops))
        put("queries.action_s", sum(ph(o, "action") for o in ops))
        put("queries.exchanges", sum(o.get("exchanges", 0) for o in ops))
        put("operators.python_nodes", sum(o.get("python_nodes", 0) for o in ops))
        put("operators.run_minus_cpu_s", sp["executor_run_s"] - sp["executor_cpu_s"])
        put("spark.jobs", sum(o.get("jobs", 0) for o in ops))
        put("spark.stages", sum(o.get("stages", 0) for o in ops))
        put("spark.tasks", sp["tasks"])
        put("spark.failed_tasks", sp["failed_tasks"] / max(1, sp["tasks"]))
        put("spark.job_s", sp["job_s"])
        put("spark.task_overhead_s", sp["task_s"] - sp["executor_run_s"])
        for c in ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            put(f"spark.{c}", sp[c])
        by_op = {o["op"]: o for o in ops}
        fits = [by_op[k] for k in ("fit_pipeline", "fit_mlp", "fit_gbt") if k in by_op]
        put("ml.features_s", by_op["features"]["latency_s"] if "features" in by_op else 0.0)
        for k in ("fit_pipeline", "fit_mlp", "fit_gbt"):
            o = by_op.get(k)
            put(f"ml.{k}_s", o["latency_s"] if o else 0.0)
            put(f"ml.{k}_jobs", o.get("jobs", 0) if o else 0)
        put("ml.fit_job_s", median([d for o in fits
                                    for d in by_group.get(o["group"], empty)["job_durations"]]))
        put("ml.score_s", by_op["score"]["latency_s"] if "score" in by_op else 0.0)
        reruns = [o for o in ops if "rerun" in o]
        put("similarity.build_s", sum(o["latency_s"] - o["rerun"]["latency_s"] for o in reruns))
        put("similarity.build_jobs", sum(o["jobs"] - o["rerun"]["jobs"] for o in reruns))
        api = by_op.get("api_population_datasets")
        put("api.create_population_dataset_s", api["latency_s"] if api else 0.0)
    out = {k: median(v) for k, v in per_pass.items()}
    io = by_group.get(f"{r.w.name}:io_scan:0", empty)
    out["io.input_rows"], out["io.input_bytes"] = io["input_rows"], io["input_bytes"]
    return out, jobs


def write_spans(path: str, passes: list[dict], jobs: list[dict]) -> None:
    """Spans ``{name, start, end, parent}``: op → construct/plan/action →
    the Spark jobs that ran under that op's job group and phase."""
    spans = []
    for ps in passes:
        for o in ps["ops"]:
            for rec in (o, o.get("rerun")):
                if not rec or not rec["phases"]:
                    continue
                ph = rec["phases"]
                spans.append({"name": rec["group"], "start": rec["start"],
                              "end": max(b for _, b in ph.values()), "parent": None})
                for k, (a, b) in ph.items():
                    spans.append({"name": f"{rec['group']}/{k}", "start": a, "end": b,
                                  "parent": rec["group"]})
    known = {s["name"] for s in spans}
    for j in jobs:
        parent = f"{j['group']}/{j['description']}"
        if parent in known:
            spans.append({"name": f"job {j['id']}", "start": j["start"],
                          "end": j["end"], "parent": parent})
    with open(path, "w") as f:
        json.dump(spans, f)


def io_probe(r: Runner) -> dict[str, float]:
    """``load_table`` time and a noop-sink scan of every input table,
    plus one warm ``tune()`` call (median of five)."""
    from hive_population_ml_spark.io.sources import load_table
    from hive_population_ml_spark.session import tune

    sc = r.spark.sparkContext
    tunes = []
    for _ in range(5):
        t0 = time.perf_counter()
        tune(r.spark)
        tunes.append(time.perf_counter() - t0)
    loads, scans = [], []
    for rep in range(3):
        t0 = time.perf_counter()
        dfs = [load_table(r.spark, r.data_dir, t) for t in r.w.tables]
        loads.append(time.perf_counter() - t0)
        group = f"{r.w.name}:io_scan:{rep}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        for df in dfs:
            df.write.format("noop").mode("overwrite").save()
        scans.append(time.perf_counter() - t0)
        sc._jsc.clearJobGroup()
    return {"session.tune_s": median(tunes), "io.load_table_s": median(loads),
            "io.scan_s": median(scans)}


def main() -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.abspath(".perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    java_opts = f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions='{java_opts}' pyspark-shell"
    )

    w = workloads.WORKLOADS[args.workload]
    r = Runner(w, args.seed, work)

    setups = [r.setup() for _ in range(SETUPS)]
    sc = r.spark.sparkContext
    print(f"cpus {CPUS} (nproc {os.cpu_count()}), SPARK_DRIVER_MEMORY {DRIVER_MEMORY}, "
          f"defaultParallelism {sc.defaultParallelism}, master {sc.master}")
    print("setups: " + "; ".join(
        " ".join(f"{k}={v:.3f}" for k, v in s.items()) for s in setups))

    t0 = time.perf_counter()
    warm = r.run_pass("warmup", r.data_dir)
    warmup_pass_s = time.perf_counter() - t0
    oracle = oracle_check(r.data_dir, w.tables, {o["op"]: o["result"] for o in warm})
    for o in warm:
        o["result"] = None
    warm_errors = {o["op"]: o["error"] for o in warm if o["error"]}
    print(f"warm-up pass {warmup_pass_s:.3f} s: "
          + " ".join(f"{o['op']}={o['latency_s']:.3f}" for o in warm))
    print("oracle checked "
          f"{sorted(oracle)}; failures {({k: v for k, v in oracle.items() if v}) or 'none'}; "
          f"warm-up errors {warm_errors or 'none'}")

    passes, peak_rss = r.timed_passes(args.seconds)
    bad_ops = {k for k, v in oracle.items() if v} | set(warm_errors)
    recs = [o for ps in passes for o in ps["ops"]]
    failed = sum(bool(o["error"]) or o["op"] in bad_ops for o in recs)
    for o in recs:
        if o["error"]:
            print(f"FAILED {o['group']}: {o['error']}")
    lat = [o["latency_s"] for o in recs]
    tail_v, tail_p, tail_n = tail(lat)
    pass_s = median([ps["wall_s"] for ps in passes])
    # Wall times are printed, not reported: see "Metrics left unbounded"
    # in README.md.
    print(f"{len(passes)} timed passes; failed_frac {failed / len(recs):.4f} "
          f"({failed}/{len(recs)}); pass_s {pass_s:.3f}; op_p50_s {median(lat):.3f}; "
          f"op_tail_s {tail_v:.3f} (p{tail_p:.1f}, {tail_n} samples above)")

    metrics = {
        "setup_s": (median([s["setup_s"] for s in setups]), "s"),
        "cpu_s": (median([ps["cpu_s"] for ps in passes]), "s"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    if args.trace:
        log_dir = os.path.join(work, "eventlog", f"{w.name}-s{args.seed}")
        shutil.rmtree(log_dir, ignore_errors=True)
        r.enable_trace(log_dir)
        traced, _ = r.timed_passes(0, count=len(passes), rerun=w.rerun_ops)
        layer = io_probe(r)
        r.spark.stop()
        r.spark = None
        more, jobs = trace_metrics(r, traced, log_dir)
        layer |= more
        traced_pass_s = median([ps["wall_s"] for ps in traced])
        layer |= {
            "session.get_spark_s": median([s["get_spark_s"] for s in setups]),
            "session.warmup_s": median([s["warmup_s"] for s in setups]),
            "trace.pass_s": traced_pass_s,
            "trace.untraced_pass_s": pass_s,
            "trace.overhead": traced_pass_s / pass_s,
        }
        spans = os.path.join(work, f"spans-{w.name}-s{args.seed}.json")
        write_spans(spans, traced, jobs)
        recs_t = [o for ps in traced for o in ps["ops"]]
        failed += sum(bool(o["error"]) for o in recs_t)
        recs += recs_t
        for ps in traced:
            for o in ps["ops"]:
                if o["error"]:
                    print(f"FAILED {o['group']}: {o['error']}")
                again = o.get("rerun")
                print(f"traced {o['group']}: {o['latency_s']:.3f} s, jobs {o['jobs']}, "
                      f"stages {o['stages']}, exchanges {o.get('exchanges', '-')}, "
                      f"python_nodes {o.get('python_nodes', '-')}"
                      + (f"; rerun {again['latency_s']:.3f} s, jobs {again['jobs']}"
                         if again else ""))
        print(f"traced pass_s {traced_pass_s:.3f} s vs untraced {pass_s:.3f} s: overhead "
              f"{100 * (traced_pass_s / pass_s - 1):+.1f}%; spans in {spans}")
        metrics = {k: (v, unit(k)) for k, v in sorted(layer.items())}
    elif r.spark is not None:
        r.spark.stop()
    stop_jvm()

    ok = failed == 0 and all(math.isfinite(v) for v, _ in metrics.values())
    print(json.dumps({
        "correct": ok,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def stop_jvm() -> None:
    """End the JVM that PySpark launched, and the Python workers under
    it, and wait for it: the gateway exits when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes"):
        return "B"
    return "ratio" if metric in ("spark.failed_tasks", "trace.overhead") else "count"


if __name__ == "__main__":
    sys.path[:0] = [ROOT, HERE]
    # the first set-up times the package's import, so only look it up here
    if importlib.util.find_spec(PACKAGE) is None:
        sys.exit(f"perfbench: package {PACKAGE} not found under {ROOT}")
    sys.exit(main())
