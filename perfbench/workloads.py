"""The workloads. Each is a closed loop with one client thread.

Both workloads report the same end-to-end metrics, read per workload:

* the **op** is the unit call timed in the loop: a warm ``find_topk``
  (topk-repeat) or one commit round (ingest: ``add_documents`` of 2,000
  new files, ``delete`` of 200 live ids, ``Engine.from_index`` and its
  first ``find_topk``, timed until that query's rows are collected);
* the **bulk** call processes many items in one call: ``find_topk_many``
  over the workload's query set (items = queries) or ``build_index`` over
  the corpus (ingest, items = files).

Correctness is checked outside the timed regions; see ``Run.check``.
"""

from __future__ import annotations

import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import bench
import common
import probes
from common import K

ADD_FILES = 2_000
DELETE_IDS = 200
ORACLE_SAMPLE = 1
# topk-repeat serves the first 6 queries of bench.QUERY_SET (4 keyword,
# 2 identifier queries): a cold warm-up query costs 2-3 process-tree CPU
# seconds, and a warm-up pass over all 20 would take more of a run than
# the benchmark's run budget leaves for it. The JVM's CPU per query falls
# about twofold over its first 50 queries as the JIT compiles, so each
# pass issues the bulk calls right after its single queries: op_cpu_s and
# bulk_cpu_s_per_kitem are medians over the same stretch of the run, 30
# ops and 10 bulk calls; more do not fit the run budget.
REPEAT_QUERIES = 6
REPEAT_PASSES = 5
BULK_PER_PASS = 2
# ingest times at least this many commit rounds, after its bulk build
INGEST_ROUNDS = 2


def cpu_s() -> float:
    """CPU seconds so far of this process and all its descendants: the
    JVM and its Python workers."""
    return bench._jvm_tree_cpu_sec(os.getpid())


class Run:
    """One benchmark run: Spark, the tracer, the clock and the tallies."""

    def __init__(self, spark, tracer, seed: int, seconds: float,
                 t_start: float) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.rng = np.random.default_rng(seed)
        self.t_start = t_start
        self.cache_build_s = 0.0
        self.cache_build_cpu_s = 0.0
        self.setup_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.notes: dict = {"loadavg": [bench._loadavg()], "phases": {}}
        self._phase, self._mark = "setup", t_start

    def phase(self, name: str) -> None:
        """Close the current phase (its wall seconds go to the notes) and
        open ``name``."""
        now = time.monotonic()
        self.notes["phases"][self._phase] = now - self._mark
        self._phase, self._mark = name, now
        self.tracer.phase = name

    def reference(self):
        c0 = cpu_s()
        corpus, index, info, build_s = common.reference_index(self.spark)
        if build_s:
            self.cache_build_s += build_s
            self.cache_build_cpu_s += cpu_s() - c0
        return corpus, index, info

    def ready(self) -> None:
        """End of set-up. ``setup_s`` is the process-tree CPU seconds spent
        so far, the wall seconds go to the notes; a one-time cache build
        counts in neither."""
        self.setup_s = cpu_s() - self.cache_build_cpu_s
        self.notes["setup_wall_s"] = (time.monotonic() - self.t_start
                                      - self.cache_build_s)
        self.notes["loadavg"].append(bench._loadavg())
        self.phase("timed")

    def query(self, eng, terms: list[str]):
        """``find_topk(terms, K)`` to collected rows, traced as one engine
        call. Returns (rows, seconds) or (None, seconds) if it raised."""
        self.attempted += 1
        with self.tracer.span("engine.find_topk"):
            t0 = time.perf_counter()
            try:
                df = eng.find_topk(terms, K)
                with self.tracer.span("engine.collect"):
                    rows = [(int(r["doc_id"]), float(r["score"]))
                            for r in df.collect()]
            except Exception as e:  # counted, reported, never fatal
                self.failed += 1
                self.notes.setdefault("errors", []).append(repr(e)[:200])
                rows = None
            dt = time.perf_counter() - t0
        return rows, dt

    def many(self, eng, queries: dict[str, list[str]]):
        self.attempted += 1
        with self.tracer.span("engine.find_topk_many"):
            try:
                out: dict[str, list] = {qid: [] for qid in queries}
                for r in eng.find_topk_many(queries, K).collect():
                    out[r["query_id"]].append(
                        (int(r["doc_id"]), float(r["score"])))
            except Exception as e:
                self.failed += 1
                self.notes.setdefault("errors", []).append(repr(e)[:200])
                return None
        return {qid: sorted(rows, key=lambda x: (-x[1], x[0]))
                for qid, rows in out.items()}

    def check(self, ok: bool, what: str) -> None:
        """A wrong result counts its call as failed (already attempted)."""
        if not ok:
            self.failed += 1
            self.notes.setdefault("mismatches", []).append(what)

    def metrics(self, op_lat, op_cpu, op_wall, bulk_items, bulk_s,
                bulk_cpu, index_ratio) -> dict:
        """``op_cpu`` is CPU seconds per op, ``bulk_cpu`` per bulk call."""
        self.phase("done")
        self.notes["loadavg"].append(bench._loadavg())
        # wall-clock figures: reported, not bounded (see README.md)
        self.notes.update(
            ops=len(op_lat),
            op_p50_s=statistics.median(op_lat),
            ops_per_s=len(op_lat) / op_wall,
            bulk_items_per_s=bulk_items / bulk_s)
        return {
            "setup_s": (self.setup_s, "s"),
            "op_cpu_s": (op_cpu, "s"),
            "bulk_cpu_s_per_kitem": (bulk_cpu / bulk_items * 1000, "s"),
            "index_bytes_per_content_byte": (index_ratio, "B/B"),
        }


def _oracle_check(run: Run, corpus: str, queries: list[list[str]],
                  rows: list) -> None:
    """Rank and score identity with the brute-force scorer on a seeded
    sample of the run's queries."""
    pick = run.rng.choice(len(queries), size=min(ORACLE_SAMPLE, len(queries)),
                          replace=False)
    for i in sorted(int(x) for x in pick):
        if rows[i] is None:
            continue
        want = common.brute_force_cached(run.spark, corpus, queries[i])
        run.check(common.rows_equal(rows[i], want),
                  f"brute force: {queries[i]}")


def _batch_check(run: Run, qids: list[str], singles: list, batch) -> None:
    """``find_topk_many`` rows equal each query's ``find_topk`` rows."""
    if batch is None:
        return
    for qid, rows in zip(qids, singles):
        if rows is not None:
            run.check(common.rows_equal(batch[qid], rows, tol=0.0),
                      f"find_topk_many != find_topk for {qid}")


def topk_repeat(run: Run) -> dict:
    """Warm serving of repeated reference queries: whole passes of
    ``find_topk`` after a warm-up pass, each pass followed by
    ``BULK_PER_PASS`` calls of ``find_topk_many`` over the same queries."""
    from torchtrajectory_spark.engine import Engine

    corpus, index, info = run.reference()
    queries = [list(q) for q in bench.QUERY_SET[:REPEAT_QUERIES]]
    qids = [f"q{i:02d}" for i in range(len(queries))]
    batch_in = dict(zip(qids, queries))
    eng = Engine.from_index(run.spark, index)
    run.phase("warmup")
    # warm-up pass: fills the per-term-set memo and starts the workers;
    # issued from several threads to keep set-up short (the timed loop
    # below has one client)
    with ThreadPoolExecutor(common.cores()) as pool:
        list(pool.map(lambda q: eng.find_topk(q, K).collect(), queries))
    eng.find_topk_many(batch_in, K).collect()
    run.ready()

    lat, op_cpu, last = [], [], [None] * len(queries)
    bulk_wall, bulk_cpu, batch = [], [], None
    t0 = time.monotonic()
    while (len(lat) < REPEAT_PASSES * len(queries)
           or time.monotonic() - t0 < run.seconds):
        for i, q in enumerate(queries):
            c0 = cpu_s()
            last[i], dt = run.query(eng, q)
            op_cpu.append(cpu_s() - c0)
            lat.append(dt)
        for _ in range(BULK_PER_PASS):
            c0, tb = cpu_s(), time.monotonic()
            batch = run.many(eng, batch_in)
            bulk_wall.append(time.monotonic() - tb)
            bulk_cpu.append(cpu_s() - c0)
    wall = time.monotonic() - t0 - sum(bulk_wall)  # the ops' share

    run.phase("check")
    _batch_check(run, qids, last, batch)
    _oracle_check(run, corpus, queries, last)
    if run.tracer.enabled:
        probes.query_layers(run, index, queries, last)
    return run.metrics(lat, statistics.median(op_cpu), wall, len(queries),
                       statistics.median(bulk_wall),
                       statistics.median(bulk_cpu),
                       info["index_bytes"] / info["content_bytes"])


def ingest(run: Run) -> dict:
    """A timed bulk ``build_index`` of the corpus table, then commit
    rounds (add 2,000 new files, delete 200 live ids, reopen, first
    query) on the new index until the run's seconds are used, at least
    ``INGEST_ROUNDS``."""
    from pyspark.sql import functions as F

    from torchtrajectory_spark.engine import Engine
    from torchtrajectory_spark.operators.index import read_manifest
    from torchtrajectory_spark.sources.corpus import CORPUS_SCHEMA, gen_rows

    corpus, _, info = run.reference()
    table = run.spark.read.parquet(corpus)
    run.phase("warmup")
    n = common.cores()  # start the Python workers before timing
    run.spark.range(0, n, numPartitions=n).mapInPandas(
        lambda it: it, "id bigint").count()
    index = os.path.join(os.environ["TMPDIR"], "ingest_index")
    run.ready()

    run.phase("bulk")
    c0, t0 = cpu_s(), time.monotonic()
    common.build_index_into(run.spark, table, index)
    bulk_s, bulk_cpu = time.monotonic() - t0, cpu_s() - c0
    ratio = common.dir_bytes(index) / info["content_bytes"]
    run.attempted += 1

    run.phase("timed")
    eng = Engine.from_index(run.spark, index)
    live = list(range(common.N_FILES))
    dead: set[int] = set()
    lat, cpu, next_id, add_df = [], [], common.N_FILES, None
    t_rounds = time.monotonic()
    while (len(lat) < INGEST_ROUNDS
           or time.monotonic() - t_rounds < run.seconds):
        ids = np.arange(next_id, next_id + ADD_FILES, dtype=np.int64)
        add_df = run.spark.createDataFrame(gen_rows(ids, run.seed),
                                           schema=CORPUS_SCHEMA)
        live.extend(ids.tolist())
        next_id += ADD_FILES
        gone = run.rng.choice(len(live), DELETE_IDS, replace=False)
        victims = [live[i] for i in gone]
        for i in sorted(gone, reverse=True):
            live.pop(i)
        q = list(bench.QUERY_SET[len(lat) % len(bench.QUERY_SET)])

        c0, t0 = cpu_s(), time.monotonic()
        run.attempted += 2
        dead.update(victims)
        try:
            with run.tracer.span("engine.add_documents"):
                eng.add_documents(add_df)
            with run.tracer.span("engine.delete"):
                eng.delete(victims)
        except Exception as e:  # counted, reported, never fatal
            run.failed += 1
            run.notes.setdefault("errors", []).append(repr(e)[:200])
        eng = Engine.from_index(run.spark, index)
        rows, _ = run.query(eng, q)
        lat.append(time.monotonic() - t0)
        cpu.append(cpu_s() - c0)
        if rows is not None:
            run.check(not dead & {d for d, _ in rows},
                      f"tombstoned id returned for {q}")

    run.phase("check")
    total = read_manifest(run.spark, index).agg(F.sum("row_count")).first()[0]
    run.check(int(total or 0) == next_id,
              f"manifest row_count {total} != {next_id} files added")
    if run.tracer.enabled:
        probes.build_layers(run, table, add_df)
    return run.metrics(lat, statistics.median(cpu), sum(lat), common.N_FILES,
                       bulk_s, bulk_cpu, ratio)


WORKLOADS = {
    "topk-repeat": topk_repeat,
    "ingest": ingest,
}
