"""The engine's benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload headline_mix --seed 1 --seconds 11 \
        --trace 0

Run from anywhere; everything the run reads or writes stays inside the
repository (generated inputs, Spark scratch, spans under
``.perfbench_work/``).  The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(the run then alternates untraced and traced passes).  The line
before it is a provenance record.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "flink_tutorial_broadcast_spark"


def _process_start_epoch() -> float:
    """This process's start time (``/proc/self/stat`` field 22), so
    ``setup_s`` includes interpreter start-up and imports."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _hermetic_env(work: str) -> int:
    """Point every scratch path of Python, the JVM and the Python workers
    into ``work`` and make the package importable in the workers whatever
    the caller's working directory.  Returns the core count used."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher's too; PerfDisableSharedMem
        # keeps HotSpot's counters off /tmp/hsperfdata_<user>, which
        # ignores java.io.tmpdir
        "JAVA_TOOL_OPTIONS": " ".join(
            p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                        f"-Djava.io.tmpdir={tmp}",
                        "-XX:+PerfDisableSharedMem") if p),
    })
    tempfile.tempdir = None
    for p in (ROOT, BENCH_DIR):
        if p not in sys.path:
            sys.path.insert(0, p)
    return ncpu


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond): the highest percentile with at
    least 10 samples beyond it; below 20 samples that percentile would sit
    under the median, so the maximum is reported instead."""
    v = sorted(values)
    n = len(v)
    if n >= 20:
        return v[n - 11], 100.0 * (n - 10) / n, 10
    return v[-1], 100.0, 0


def _mean(rows: list[dict], key: str) -> float:
    return statistics.fmean(r.get(key, 0.0) for r in rows) if rows else 0.0


class Runner:
    def __init__(self, spark, workload, queries, ncpu: int):
        self.spark, self.w, self.queries, self.ncpu = \
            spark, workload, queries, ncpu
        self.ops: list[dict] = []       # one record per timed op
        self.spans: list[dict] = []
        self.rss: dict[int, tuple[str, int]] = {}   # pid -> (name, kB)
        self.rest = None
        self.stream_jobs_seen: set[int] = set()

    # -- one op --------------------------------------------------------

    def batch_op(self, key: str) -> float:
        t0 = time.perf_counter()
        df = self.queries[key](self.spark, self.w.sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return (time.perf_counter() - t0) * 1e3

    def traced_batch_op(self, key: str, op_id: str) -> dict:
        """build -> plan -> exec, each in its own job group, then the
        phase's jobs, stages and SQL nodes from the status REST API."""
        from layers import job_layer
        sc = self.spark.sparkContext
        phases = {
            "build": lambda _: self.queries[key](self.spark, self.w.sf_dir),
            "plan": lambda df: df._jdf.queryExecution().executedPlan(),
            "exec": lambda df: df.write.format("noop").mode("overwrite")
            .save(),
        }
        e0, p0 = time.time() * 1e3, time.perf_counter()
        bounds, df = [], None   # (start, end) of each phase, perf_counter
        for phase, call in phases.items():
            sc.setJobGroup(f"{op_id}.{phase}", key)
            a = time.perf_counter()
            out = call(df)
            bounds.append((a, time.perf_counter()))
            df = out if phase == "build" else df
        sc.setLocalProperty("spark.jobGroup.id", None)
        p1 = time.perf_counter()

        def ep(x: float) -> float:
            return e0 + (x - p0) * 1e3
        wall = (p1 - p0) * 1e3
        self.spans.append({"name": op_id, "parent": None, "key": key,
                           "start_ms": e0, "end_ms": ep(p1)})
        rec = {"wall_ms": wall}
        counters = []
        for phase, (a, b) in zip(phases, bounds):
            name = f"{op_id}.{phase}"
            self.spans.append({"name": name, "parent": op_id,
                               "start_ms": ep(a), "end_ms": ep(b)})
            jobs = self.rest.finished_jobs(
                self.rest.tracker.getJobIdsForGroup(name))
            lay = job_layer(self.rest, jobs, ep(a), ep(b), self.spans, name)
            rec[f"{phase}.ms"] = (b - a) * 1e3
            rec[f"{phase}.jobs"] = lay["jobs"]
            rec[f"{phase}.union_ms"] = lay["union_ms"]
            counters.append(lay)
        rec["build.self_ms"] = rec["build.ms"] - rec["build.union_ms"]
        rec["exec.off_job_ms"] = rec["exec.ms"] - rec["exec.union_ms"]
        rec["op.self_ms"] = wall - rec["build.ms"] - rec["plan.ms"] \
            - rec["exec.ms"]
        rec["trace.job_outside_ms"] = max(c["outside_ms"] for c in counters)
        for name in counters[0]:
            if name not in ("jobs", "union_ms", "outside_ms"):
                rec[name] = sum(c[name] for c in counters)
        rec["exec.core_busy_ratio"] = \
            counters[2]["exec.task_run_ms"] / (rec["exec.ms"] * self.ncpu)
        rec["trace.layer_sum_ratio"] = \
            (rec["build.ms"] + rec["plan.ms"] + rec["exec.ms"]) / wall
        return rec

    def stream_op(self, traced: bool) -> dict:
        wall, prog = self.w.step()
        d = prog["durationMs"]
        rec = {"latency_ms": float(d["triggerExecution"]), "cycle_ms": wall,
               "events": prog["numInputRows"]}
        if self.rest is not None:   # traced run: this trigger's new jobs
            ids = set(self.rest.tracker.getJobIdsForGroup(prog["runId"]))
            new, self.stream_jobs_seen = ids - self.stream_jobs_seen, ids
        if not traced:
            return rec
        from layers import epoch_ms, job_layer
        state = (prog.get("stateOperators") or [{}])[0]
        trig = float(d["triggerExecution"])
        rec.update({
            "stream.add_batch_ms": d.get("addBatch", 0),
            "stream.planning_ms": d.get("queryPlanning", 0),
            "stream.wal_commit_ms": d.get("walCommit", 0),
            "stream.commit_offsets_ms": d.get("commitOffsets", 0),
            "stream.source_ms": d.get("latestOffset", 0)
            + d.get("getBatch", 0),
            "stream.overhead_ms": trig - d.get("addBatch", 0),
            "state.rows_total": state.get("numRowsTotal", 0),
            "state.memory_bytes": state.get("memoryUsedBytes", 0),
            "state.commit_ms": state.get("commitTimeMs", 0),
            "state.update_ms": state.get("allUpdatesTimeMs", 0),
            "state.partitions": state.get("numShufflePartitions", 0),
            "state.cache_miss": state.get("customMetrics", {})
            .get("loadedMapCacheMissCount", 0),
        })
        op_id = f"batch{prog['batchId']}"
        t0 = epoch_ms(prog["timestamp"])
        self.spans.append({"name": op_id, "parent": None,
                           "start_ms": t0, "end_ms": t0 + trig})
        jobs = self.rest.finished_jobs(new)
        lay = job_layer(self.rest, jobs, t0, t0 + trig, self.spans, op_id)
        rec.update({k: v for k, v in lay.items()
                    if k not in ("jobs", "union_ms", "outside_ms")})
        add = float(d.get("addBatch", 0))
        rec.update({
            "wall_ms": trig, "exec.ms": add, "exec.jobs": lay["jobs"],
            "exec.off_job_ms": add - lay["union_ms"],
            "exec.core_busy_ratio":
                lay["exec.task_run_ms"] / (add * self.ncpu) if add else 0.0,
            "trace.job_outside_ms": lay["outside_ms"],
            "trace.layer_sum_ratio": (add + rec["stream.planning_ms"]
                                      + rec["stream.wal_commit_ms"]
                                      + rec["stream.commit_offsets_ms"]
                                      + rec["stream.source_ms"]) / trig,
        })
        return rec

    # -- the closed loop -----------------------------------------------

    def loop(self, seconds: float, trace: bool) -> None:
        """Run whole passes (batch) or triggers (stream) until ``seconds``
        have gone by; at least one, and one traced.  With ``trace``, passes
        alternate between untraced ("u") and traced ("t"), so both see
        the same JIT and heap warm-up and their difference is the tracing
        overhead."""
        from flink_tutorial_broadcast_spark.session import (
            release_cached_blocks,
        )
        from layers import descendants, record_hwm_kb
        me = os.getpid()
        deadline = time.perf_counter() + seconds
        n_pass = 0
        while True:
            traced = trace and n_pass % 2 == 1
            phase = "t" if traced else "u"
            if self.w.stream:
                if self.w.exhausted():
                    break
                rec = {"key": self.w.keys[0], "pass": n_pass,
                       "phase": phase, "ok": True}
                try:
                    rec.update(self.stream_op(traced))
                except Exception as e:  # noqa: BLE001 — counted as failed
                    rec.update(ok=False, error=f"{type(e).__name__}: {e}")
                    self.ops.append(rec)
                    break
                self.ops.append(rec)
            else:
                for key in self.w.keys:
                    rec = {"key": key, "pass": n_pass, "phase": phase,
                           "ok": True}
                    try:
                        if traced:
                            rec.update(self.traced_batch_op(
                                key, f"{phase}{n_pass}.{key}"))
                            rec["latency_ms"] = rec["wall_ms"]
                        else:
                            rec["latency_ms"] = self.batch_op(key)
                    except Exception as e:  # noqa: BLE001 — counted
                        rec.update(ok=False,
                                   error=f"{type(e).__name__}: {e}")
                    self.ops.append(rec)
                    record_hwm_kb([me, *descendants(me)], self.rss)
                release_cached_blocks(self.spark)
            record_hwm_kb([me, *descendants(me)], self.rss)
            n_pass += 1
            if time.perf_counter() >= deadline and n_pass >= 1 + trace:
                break

    # -- metrics ---------------------------------------------------------

    def end_to_end(self, setup_s: float) -> dict:
        ops = [o for o in self.ops if o["ok"]]
        lat = [o["latency_ms"] for o in ops]
        if self.w.stream:
            passes = [o["cycle_ms"] / 1e3 for o in ops]
            busy_s = sum(passes)
            events = sum(o["events"] for o in ops)
        else:
            by_pass: dict[int, list[float]] = {}
            for o in self.ops:
                by_pass.setdefault(o["pass"], []).append(
                    o.get("latency_ms", float("nan")))
            passes = [sum(v) / 1e3 for v in by_pass.values()
                      if len(v) == len(self.w.keys)
                      and all(x == x for x in v)]
            busy_s = sum(lat) / 1e3
            events = self.w.events_per_pass() * len(passes)
        tail_v, tail_pct, beyond = tail(lat) if lat else (0.0, 0.0, 0)
        return {
            "latency_p50_ms": (statistics.median(lat) if lat else 0.0, "ms"),
            "latency_tail_ms": (tail_v, "ms"),
            "pass_s": (statistics.median(passes) if passes else 0.0, "s"),
            "events_per_s": (events / busy_s if busy_s else 0.0, "1/s"),
            "setup_s": (setup_s, "s"),
        }, (tail_pct, beyond)

    def peak_rss_mb(self) -> float:
        return sum(kb for _, kb in self.rss.values()) / 1024

    def per_layer(self, all_keys: list[str]) -> dict:
        traced = [o for o in self.ops if o["ok"] and o["phase"] == "t"]
        plain = [o["latency_ms"] for o in self.ops
                 if o["ok"] and o["phase"] == "u"]
        out = {}
        for name, unit in LAYER_METRICS:
            out[name] = (_mean(traced, name), unit)
        out["mem.peak_rss_mb"] = (self.peak_rss_mb(), "MB")
        if self.w.stream and traced:
            last = traced[-1]
            for name in ("state.rows_total", "state.memory_bytes",
                         "state.partitions"):
                out[name] = (float(last[name]), out[name][1])
        t_lat = [o["latency_ms"] for o in traced]
        out["trace.overhead_ms"] = (
            statistics.median(t_lat) - statistics.median(plain)
            if t_lat and plain else 0.0, "ms")
        for key in all_keys:
            v = [o["latency_ms"] for o in traced
                 if o["key"] == key and not self.w.stream]
            out[f"op.{key}.ms"] = (statistics.median(v or [0.0]), "ms")
        return out


LAYER_METRICS = [
    ("build.ms", "ms"), ("build.jobs", "count"), ("build.self_ms", "ms"),
    ("plan.ms", "ms"),
    ("exec.ms", "ms"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_run_ms", "ms"),
    ("exec.task_deser_ms", "ms"), ("exec.gc_ms", "ms"),
    ("exec.off_job_ms", "ms"), ("exec.core_busy_ratio", "ratio"),
    ("io.input_bytes", "B"), ("io.input_records", "count"),
    ("shuffle.read_bytes", "B"), ("shuffle.write_bytes", "B"),
    ("shuffle.spill_bytes", "B"),
    ("python.run_ms", "ms"), ("python.start_ms", "ms"),
    ("python.init_ms", "ms"), ("python.bytes_sent", "B"),
    ("python.bytes_received", "B"),
    ("state.rows_total", "count"), ("state.memory_bytes", "B"),
    ("state.commit_ms", "ms"), ("state.update_ms", "ms"),
    ("state.partitions", "count"), ("state.cache_miss", "count"),
    ("stream.add_batch_ms", "ms"), ("stream.planning_ms", "ms"),
    ("stream.wal_commit_ms", "ms"), ("stream.commit_offsets_ms", "ms"),
    ("stream.source_ms", "ms"), ("stream.overhead_ms", "ms"),
    ("op.self_ms", "ms"), ("trace.layer_sum_ratio", "ratio"),
    ("trace.job_outside_ms", "ms"),
]


def _rss_by_name(rss: dict[int, tuple[str, int]]) -> dict[str, list]:
    """Process name -> [process count, summed high-water mark in MB]."""
    out: dict[str, list] = {}
    for name, kb in rss.values():
        row = out.setdefault(name, [0, 0.0])
        row[0] += 1
        row[1] += kb / 1024
    return out


def _shutdown(spark) -> None:
    """Stop Spark, close the gateway JVM and wait for every descendant
    process (JVM, Python workers) to end."""
    from layers import descendants
    from pyspark import SparkContext

    left = set(descendants(os.getpid()))
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        if gw.proc is not None:
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while left and time.monotonic() < deadline:
        left = {p for p in left if os.path.exists(f"/proc/{p}")
                and "Z" not in open(f"/proc/{p}/stat").read().split()[2]}
        time.sleep(0.1)
    for p in left:
        os.kill(p, 9)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = _process_start_epoch()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or \
            not os.path.isfile(os.path.join(ROOT, "tools", "check.py")):
        print(f"perfbench: {PACKAGE}/ and tools/check.py must sit next to "
              f"perfbench/ ({ROOT})", file=sys.stderr)
        return 2
    import workloads  # perfbench/ is sys.path[0] when run as a script
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    ncpu = _hermetic_env(work)
    load_start = os.getloadavg()

    from flink_tutorial_broadcast_spark import ORACLE, load_all_queries
    from flink_tutorial_broadcast_spark.session import get_spark

    w = workloads.make(args.workload, ROOT, work, args.seed)
    phases = {"imports_s": time.time() - started}
    w.generate()
    phases["generate_s"] = time.time() - started - sum(phases.values())
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = load_all_queries()
    phases["session_s"] = time.time() - started - sum(phases.values())
    runner = Runner(spark, w, queries, ncpu)
    try:
        w.warm(spark, queries, runner.batch_op)
        setup_s = time.time() - started
        phases["warm_s"] = setup_s - sum(phases.values())
        if args.trace:
            from layers import Rest
            runner.rest = Rest(spark)
            if w.stream:
                runner.stream_jobs_seen = set(runner.rest.tracker
                                              .getJobIdsForGroup(
                                                  str(w.query.runId)))
            runner.loop(args.seconds, True)
            with open(work + ".spans.json", "w") as f:
                json.dump(runner.spans, f)
        else:
            runner.loop(args.seconds, False)
        phases["timed_s"] = time.time() - started - sum(phases.values())
        mismatches = w.check(spark, queries, ORACLE)
        phases["check_s"] = time.time() - started - sum(phases.values())
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "nproc": ncpu, "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "spark_version": spark.version,
            "java_version":
                spark.sparkContext._jvm.System.getProperty("java.version"),
            "loadavg_start": [round(x, 2) for x in load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "phases": {k: round(v, 3) for k, v in phases.items()},
        }
    finally:
        if w.stream:
            w.stop()
    bad_keys = {k for k, v in mismatches.items() if v}
    for o in runner.ops:
        if o["key"] in bad_keys:
            o["ok"] = False
    attempted = len(runner.ops)
    failed = sum(not o["ok"] for o in runner.ops)
    e2e, (tail_pct, tail_beyond) = runner.end_to_end(setup_s)
    record.update({
        "ops": attempted, "failed": failed,
        "failed_op_share": failed / attempted if attempted else 1.0,
        "latency_tail_percentile": tail_pct,
        "latency_tail_beyond": tail_beyond,
        "latency_samples": sum(o["ok"] for o in runner.ops),
        "mismatches": {k: v for k, v in mismatches.items() if v},
        "errors": sorted({o["error"] for o in runner.ops if "error" in o}),
        "peak_rss_mb": runner.peak_rss_mb(),
        "peak_rss_mb_by_process": _rss_by_name(runner.rss),
        "latencies_ms": [round(o["latency_ms"], 1) for o in runner.ops
                         if "latency_ms" in o],
        "op_ms": {k: statistics.median(
            [o["latency_ms"] for o in runner.ops
             if o["ok"] and o["key"] == k] or [0.0]) for k in w.keys},
    })
    if args.trace:
        metrics = runner.per_layer(
            workloads.HEADLINE_KEYS + [k for k in workloads.CEP_KEYS
                                       if k not in workloads.HEADLINE_KEYS])
        bad = [o for o in runner.ops if o["ok"] and o["phase"] == "t"
               and (abs(o["trace.layer_sum_ratio"] - 1) > 0.10
                    or o["trace.job_outside_ms"] > 5)]
        record["reconciliation_failures"] = len(bad)
    else:
        metrics, bad = e2e, []
    _shutdown(spark)
    shutil.rmtree(work)
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": failed == 0 and not bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
