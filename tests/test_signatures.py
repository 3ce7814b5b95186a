"""Query-surface guard: the bucket count and the term statistics of an
index come from its snapshot, never from a caller's argument."""

from __future__ import annotations

import importlib
import inspect
import pkgutil

import torchtrajectory_spark.operators as operators

# build-side functions choose the bucket count of the index they write
BUILD_SIDE = {"bucket_of", "build_index", "build_segment_postings",
              "commit_segment"}


def _public_callables():
    for info in pkgutil.iter_modules(operators.__path__):
        mod = importlib.import_module(f"{operators.__name__}.{info.name}")
        for name, obj in vars(mod).items():
            if name.startswith("_") or getattr(obj, "__module__",
                                               None) != mod.__name__:
                continue
            if inspect.isfunction(obj):
                yield f"{info.name}.{name}", name, obj
            elif inspect.isclass(obj):
                for m, fn in vars(obj).items():
                    if not m.startswith("_") and inspect.isfunction(fn):
                        yield f"{info.name}.{name}.{m}", m, fn


def test_no_meta_and_one_buckets_parameter():
    with_meta, with_buckets = [], []
    for qual, name, fn in _public_callables():
        params = inspect.signature(fn).parameters
        if "meta" in params:
            with_meta.append(qual)
        if "buckets" in params and name not in BUILD_SIDE:
            with_buckets.append(qual)
    assert with_meta == []
    assert with_buckets == ["wand.query_term_meta"]
