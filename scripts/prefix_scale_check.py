#!/usr/bin/env python
"""One-off evidence run (VERDICT r4 #5): build-cost of the sorted
secondary dictionary + cold-prefix latency at 1M files, sorted-range
path vs bucketed-fallback path on the SAME index.

    python scripts/prefix_scale_check.py [n_rows] [out_json]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    out = sys.argv[2] if len(sys.argv) > 2 else "/dev/stdout"

    from pyspark.sql import SparkSession

    from torchtrajectory_spark.operators.index import (
        build_index, read_terms,
    )
    from torchtrajectory_spark.operators import wand
    from torchtrajectory_spark.sources.corpus import synth_corpus

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("prefix-scale-check")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    d = tempfile.mkdtemp(prefix="prefix_scale_")
    idx = d + "/idx"
    # The fixture vocabulary is a fixed 5,000 terms — a dictionary scan
    # over it is trivially cheap at ANY corpus size, which is exactly the
    # wrong shape for this measurement: the sorted dictionary exists for
    # vocabularies that grow with the corpus (identifiers, hashes, typos
    # — the open-vocabulary tail of real code/text). Append 3 unique
    # identifier tokens per doc (Catalyst-only concat) so the dictionary
    # is ~3n rows and the scan-vs-range difference is visible.
    from pyspark.sql import functions as F

    corpus = synth_corpus(spark, n, partitions=32).withColumn(
        "content",
        F.concat_ws(" ", "content",
                    F.concat(F.lit("ua"), F.col("doc_id")),
                    F.concat(F.lit("ub"), F.col("doc_id")),
                    F.concat(F.lit("uc"), F.col("doc_id"))),
    )
    t0 = time.monotonic()
    build_index(
        spark, corpus, idx,
        id_col="doc_id", text_col="content", analyzer="code",
        n_segments=8, buckets=64,
    )
    build_sec = time.monotonic() - t0

    res: dict = {"n": n, "build_sec": round(build_sec, 2),
                 "files_per_sec": round(n / build_sec, 1)}

    # vocabulary size (for context)
    res["vocab"] = read_terms(spark, idx).select("term").distinct().count()

    def cold(fn):
        t = time.monotonic()
        r = fn()
        return time.monotonic() - t, r

    for prefix in ("re", "id_42", "ua1234"):
        s_sec, s_res = cold(lambda: wand.expand_prefix(spark, idx, prefix))
        f_sec, f_res = cold(lambda: wand._expand_from(
            read_terms(spark, idx), F.col("term").startswith(prefix), 64))
        assert s_res == f_res, (prefix, s_res, f_res)
        res[f"prefix_{prefix}"] = {
            "sorted_cold_sec": round(s_sec, 3),
            "fallback_cold_sec": round(f_sec, 3),
            "n_terms": len(s_res),
        }

    with open(out, "w") as f:
        json.dump(res, f)
        f.write("\n")
    shutil.rmtree(d, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
