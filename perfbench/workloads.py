"""The benchmark's workloads.

Each workload writes its inputs from the seed, warms the session, runs
ops, and checks its answers against a reference outside the timed region.
``README.md`` records why each exists and which layer it bypasses.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import time

import gen

HEADLINE_KEYS = [  # bench.py's HEADLINE, in its order
    "q_broadcast_rule_join", "q_join_inner", "q_star_join", "q_agg_basic",
    "q_window_tumbling", "q_rank", "q_dedup_exact", "q_knn_bruteforce",
    "q_knn_vectorized", "q_token_counts", "q_tfidf", "q_tpch_q3",
    "q_tpch_q1", "q_tpch_q9", "q_pipeline_e2e",
]
CEP_KEYS = [  # one registry key per CEP machine family
    "q_cep_followed_by", "q_cep_times", "q_cep_not_followed_by",
    "q_cep_followed_by_any", "q_cep_followed_by_any_within",
    "q_cep_loop_matches", "q_cep_skip_to_next", "q_cep_where_rel",
]
STREAM_KEY = "q_cep_followed_by_any_within"

CEP_EVENTS = 500_000
STREAM_FILE_EVENTS = 25_000
STREAM_USERS = 1_500
STREAM_POOL_FILES = 32
STREAM_WARM_BATCHES = 1


def _check_module(root: str):
    """``tools/check.py``: the oracle gate's canonicalisation and hash."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _duckdb(sf_dir: str):
    import duckdb
    con = duckdb.connect()
    for name in sorted(os.listdir(sf_dir)):
        path = os.path.join(sf_dir, name)
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name.removesuffix('.parquet')} AS "
                    f"SELECT * FROM read_parquet('{src}')")
    return con


def _mismatch(chk, spdf, odf) -> str | None:
    """tools/check.py's comparison: row count, column set, int/float
    kinds, then the order-insensitive canonical value hash."""
    if len(spdf) != len(odf):
        return f"rowcount spark={len(spdf)} duckdb={len(odf)}"
    if sorted(spdf.columns) != sorted(odf.columns):
        return f"columns spark={sorted(spdf.columns)} duckdb={sorted(odf.columns)}"
    kinds = chk.kind_problems(spdf, odf)
    if kinds:
        return "; ".join(kinds)
    if chk.value_hash(chk.canon_rows(spdf)) != \
            chk.value_hash(chk.canon_rows(odf)):
        return "value-hash mismatch"
    return None


class BatchWorkload:
    """Passes over registry keys on one generated fixture directory."""

    stream = False

    def __init__(self, name: str, keys: list[str], root: str, work: str,
                 seed: int):
        self.name, self.keys, self.root, self.seed = name, keys, root, seed
        self.sf_dir = os.path.join(work, "sf")

    def events_per_pass(self) -> int:
        import pyarrow.parquet as pq
        path = os.path.join(self.sf_dir, "events.parquet")
        return pq.ParquetDataset(path).read(columns=["event_id"]).num_rows

    def warm(self, spark, queries, run_op) -> None:
        """The first warm pass collects each key's answer with
        ``toPandas()`` (as the oracle gate does) and keeps it for
        ``check``; the second runs the timed op itself."""
        self.chk = _check_module(self.root)
        self.answers = {}
        for key in self.keys:
            try:
                self.answers[key] = self.chk.spark_to_pandas(
                    queries[key](spark, self.sf_dir))
            except Exception as e:  # noqa: BLE001 — reported by check
                self.answers[key] = e
        for key in self.keys:
            run_op(key)

    def check(self, spark, queries, oracle) -> dict[str, str | None]:
        """Key -> mismatch description (None when the answer is right)."""
        con = _duckdb(self.sf_dir)
        out = {}
        for key, spdf in self.answers.items():
            try:
                if isinstance(spdf, Exception):
                    raise spdf
                out[key] = _mismatch(self.chk, spdf,
                                     con.execute(oracle[key]).df())
            except Exception as e:  # noqa: BLE001 — reported, not raised
                out[key] = f"{type(e).__name__}: {e}"
        return out


class HeadlineMix(BatchWorkload):
    def generate(self) -> None:
        gen.write_fixture(self.sf_dir, self.seed)


class CepBatch(BatchWorkload):
    def generate(self) -> None:
        os.makedirs(self.sf_dir, exist_ok=True)
        gen.write_events(os.path.join(self.sf_dir, "events.parquet"),
                         self.seed, CEP_EVENTS)


class CepStream:
    """``STREAM_KEY``'s pattern through ``KeyedStream.pattern`` on a file
    ``readStream`` into the memory sink (update mode).  One op releases the
    next pre-written part-file into the source directory and returns when
    its micro-batch has committed, so each op is exactly one trigger."""

    stream = True
    keys = [STREAM_KEY]

    def __init__(self, name: str, keys, root: str, work: str, seed: int):
        self.name, self.root, self.seed, self.work = name, root, seed, work
        self.pool = os.path.join(work, "pool")
        self.src = os.path.join(work, "src")
        self.files: list[str] = []
        self.released = 0
        self.last_batch = -1
        self.query = None

    def generate(self) -> None:
        self.files = gen.write_event_stream(
            self.pool, self.seed, STREAM_POOL_FILES, STREAM_FILE_EVENTS,
            STREAM_USERS)
        shutil.rmtree(self.src, ignore_errors=True)
        os.makedirs(self.src)

    def warm(self, spark, queries, run_op) -> None:
        from flink_tutorial_broadcast_spark.cep import Pattern
        from flink_tutorial_broadcast_spark.datastream import (
            StreamExecutionEnvironment,
        )
        from flink_tutorial_broadcast_spark.io import SCHEMAS

        sdf = (spark.readStream.schema(SCHEMAS["events"])
               .option("maxFilesPerTrigger", "1").parquet(self.src))
        pat = (Pattern.begin("v", "view")
               .followed_by_any("c", "click")
               .followed_by_any("p", "purchase")
               .within("48 hours").no_skip())
        out = (StreamExecutionEnvironment.get_execution_environment(spark)
               .from_dataframe(sdf).key_by("user_id").pattern(pat).to_df())
        ckpt = os.path.join(self.work, "checkpoint")
        shutil.rmtree(ckpt, ignore_errors=True)
        self.query = (out.writeStream.format("memory")
                      .queryName("perfbench_cep").outputMode("update")
                      .option("checkpointLocation", ckpt).start())
        for _ in range(STREAM_WARM_BATCHES):
            self.step()

    def exhausted(self) -> bool:
        return self.released >= len(self.files)

    def step(self) -> tuple[float, dict]:
        """Release one file; return (cycle wall ms, its batch progress)."""
        f = self.files[self.released]
        t0 = time.perf_counter()
        os.rename(f, os.path.join(self.src, os.path.basename(f)))
        self.released += 1
        self.query.processAllAvailable()
        wall = (time.perf_counter() - t0) * 1e3
        deadline = time.monotonic() + 10
        while True:
            prog = [p for p in self.query.recentProgress
                    if p["batchId"] > self.last_batch
                    and p["numInputRows"] > 0]
            if prog or time.monotonic() > deadline:
                break
            time.sleep(0.01)
        if not prog:
            raise RuntimeError(f"no progress after batch {self.last_batch}")
        self.last_batch = prog[0]["batchId"]
        return wall, prog[0]

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()

    def check(self, spark, queries, oracle) -> dict[str, str | None]:
        """The last emission per key equals the batch answer of the same
        key over the same (released) files, and that batch answer equals
        the DuckDB oracle."""
        self.stop()
        emitted = {}
        for r in spark.table("perfbench_cep").collect():
            # update-mode counts only grow, so the largest is the last
            emitted[r["user_id"]] = max(emitted.get(r["user_id"], 0),
                                        r["n_matches"])
        emitted = {u: n for u, n in emitted.items() if n > 0}
        sf_dir = os.path.join(self.work, "released")
        ev = os.path.join(sf_dir, "events.parquet")
        shutil.rmtree(sf_dir, ignore_errors=True)
        os.makedirs(ev)
        for f in os.listdir(self.src):
            os.link(os.path.join(self.src, f), os.path.join(ev, f))
        try:
            batch = {r["user_id"]: r["n_matches"]
                     for r in queries[STREAM_KEY](spark, sf_dir).collect()}
            want = {int(u): int(n) for u, n in _duckdb(sf_dir).execute(
                oracle[STREAM_KEY]).fetchall()}
        except Exception as e:  # noqa: BLE001 — reported, not raised
            return {STREAM_KEY: f"{type(e).__name__}: {e}"}
        if batch != want:
            return {STREAM_KEY: "batch answer differs from the oracle"}
        if emitted != batch:
            diff = len(set(emitted.items()) ^ set(batch.items()))
            return {STREAM_KEY: f"stream last emissions differ from the "
                                f"batch answer on {diff} keys"}
        return {STREAM_KEY: None}


WORKLOADS = {
    "headline_mix": (HeadlineMix, HEADLINE_KEYS),
    "cep_batch": (CepBatch, CEP_KEYS),
    "cep_stream": (CepStream, [STREAM_KEY]),
}


def make(name: str, root: str, work: str, seed: int):
    cls, keys = WORKLOADS[name]
    return cls(name, keys, root, work, seed)
