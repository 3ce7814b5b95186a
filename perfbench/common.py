"""Shared plumbing for the perfbench workloads.

Everything a run writes lives under ``.perfbench_work/`` at the root of
the checkout: the per-run scratch directory (temp files, Spark local
dirs, the ingest workload's index) is removed when the run ends, and the
reference corpus table plus the query workloads' index are kept in a
content-addressed cache so only the first run in a checkout builds them.
The cache key covers the program's sources and the build parameters, so
a changed program never reads an index another version built.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# Index geometry of every workload: bench.py's layout (4 segments,
# 64 term buckets, code analyzer, the four metadata columns).
N_FILES = 20_000
N_SEGMENTS = 4
BUCKETS = 64
ANALYZER = "code"
META_COLS = ("repo", "path", "commit", "lang")
K = 10


def cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def program_present() -> bool:
    return (os.path.isdir(os.path.join(ROOT, "torchtrajectory_spark"))
            and os.path.isfile(os.path.join(ROOT, "bench.py")))


def prepare_process(run_dir: str) -> None:
    """Point every temp file of this process, the JVM and Spark's Python
    workers into ``run_dir``, and make the package importable in the
    workers whatever the working directory is."""
    os.makedirs(run_dir, exist_ok=True)
    os.environ["TMPDIR"] = run_dir
    tempfile.tempdir = run_dir
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(run_dir: str):
    from torchtrajectory_spark.session import get_spark

    n = cores()
    return get_spark(
        "perfbench", cores=n, shuffle_partitions=n,
        extra_conf={
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={run_dir} -Dderby.system.home={run_dir}"
                " -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


# --------------------------------------------------------------- cache --

def _cache_key() -> str:
    h = hashlib.sha256()
    h.update(json.dumps([N_FILES, N_SEGMENTS, BUCKETS, ANALYZER,
                         list(META_COLS)]).encode())
    pkg = os.path.join(ROOT, "torchtrajectory_spark")
    files = [os.path.join(ROOT, "bench.py"), os.path.abspath(__file__)]
    for base, dirs, names in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        files += [os.path.join(base, n) for n in sorted(names)
                  if n.endswith(".py")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build_index_into(spark, corpus, index_dir: str) -> None:
    from torchtrajectory_spark.operators import index as index_mod

    index_mod.build_index(
        spark, corpus, index_dir,
        id_col="doc_id", text_col="content", analyzer=ANALYZER,
        meta_cols=META_COLS, n_segments=N_SEGMENTS, buckets=BUCKETS,
        resume=False,
    )


def reference_index(spark) -> tuple[str, str, dict, float]:
    """The cached reference corpus table and its index.

    Returns (corpus path, index path, {"content_bytes", "index_bytes"},
    seconds spent building them in this run, 0 when the cache was warm).
    The corpus table is written by ``bench._corpus_table``: the
    fixed-seed synthetic code corpus bench.py measures."""
    from pyspark.sql import functions as F

    import bench

    cache_root = os.path.join(WORK, "cache")
    key = _cache_key()
    final = os.path.join(cache_root, key)
    info_path = os.path.join(final, "info.json")
    t0 = time.monotonic()
    built = not os.path.isfile(info_path)
    if built:
        os.makedirs(cache_root, exist_ok=True)
        stage = tempfile.mkdtemp(prefix=f"{key}.tmp", dir=cache_root)
        shutil.move(bench._corpus_table(spark, N_FILES),
                    os.path.join(stage, "corpus"))
        bench._CORPUS_TABLES.pop(N_FILES, None)
        build_index_into(spark,
                         spark.read.parquet(os.path.join(stage, "corpus")),
                         os.path.join(stage, "index"))
        content = spark.read.parquet(os.path.join(stage, "corpus")).agg(
            F.sum(F.octet_length("content"))).first()[0]
        with open(os.path.join(stage, "info.json"), "w") as f:
            json.dump({"content_bytes": int(content),
                       "index_bytes": dir_bytes(os.path.join(stage, "index"))},
                      f)
        for old in os.listdir(cache_root):
            if old != os.path.basename(stage):
                shutil.rmtree(os.path.join(cache_root, old),
                              ignore_errors=True)
        os.rename(stage, final)
    with open(info_path) as f:
        info = json.load(f)
    return (os.path.join(final, "corpus"), os.path.join(final, "index"),
            info, time.monotonic() - t0 if built else 0.0)


# --------------------------------------------------------- correctness --

def rows_equal(got: list[tuple[int, float]],
               want: list[tuple[int, float]], tol: float = 1e-6) -> bool:
    """Rank- and score-identity: same doc ids in the same order, scores
    within ``tol``."""
    return (len(got) == len(want)
            and all(g[0] == w[0] and abs(g[1] - w[1]) <= tol
                    for g, w in zip(got, want)))


def brute_force_rows(spark, corpus_path: str,
                     terms: list[str]) -> list[tuple]:
    """Top-k by ``operators.topk.topk_bm25``, brute force over the raw
    corpus."""
    from torchtrajectory_spark.operators.topk import topk_bm25

    df = topk_bm25(spark.read.parquet(corpus_path), terms, K,
                   text_col="content", analyzer=ANALYZER)
    return [(int(r["doc_id"]), r["score_u6"] / 1e6) for r in df.collect()]


def brute_force_cached(spark, corpus_path: str,
                       terms: list[str]) -> list[tuple]:
    """``brute_force_rows`` memoized on disk next to the cached corpus,
    for queries that recur across runs (the reference set)."""
    path = os.path.join(os.path.dirname(corpus_path), "oracle.json")
    memo = {}
    if os.path.isfile(path):
        with open(path) as f:
            memo = json.load(f)
    key = " ".join(sorted(terms))
    if key not in memo:
        memo[key] = brute_force_rows(spark, corpus_path, terms)
        tmp = path + f".{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(memo, f)
        os.replace(tmp, path)
    return [tuple(r) for r in memo[key]]
