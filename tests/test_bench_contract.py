"""The benchmark (`perfbench/`) drives the package through a handful of calls.
Pin that they still import and bind, so a deletion or signature change that
would break the benchmark fails here instead of at bench time."""

from __future__ import annotations

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import perfbench.workloads as w  # noqa: E402


def test_benchmark_package_calls_bind():
    sentinel = object()
    calls = [
        # the calls perfbench/workloads.py makes, with its argument shapes
        (w.run_pipeline_lean, (sentinel, sentinel, w.CFG), {}),
        (w.assemble_documents, (sentinel,), {}),
        (w.minhash_signatures_numpy, (sentinel, w.CFG), {}),
        (w.lsh_bands, (sentinel, w.CFG), {"band_key": "xxhash"}),
        (w.candidate_pairs, (sentinel, w.CFG), {"persist_bands": False}),
        (w.jaccard_verify_docs, (sentinel, sentinel, w.CFG.shingle_k), {"threshold": w.CFG.jaccard_threshold}),
        (w.connected_components, (sentinel, w.CFG.max_cc_iterations), {"all_vertices": sentinel}),
        (w.duplicated_spans, (sentinel, w.SUFFIX_L, "rolling"), {}),
        (w.strip_duplicated_spans, (sentinel, w.SUFFIX_L, "rolling"), {"spans": sentinel}),
        (w.create_package, (sentinel, sentinel, "pkg", w.CFG), {}),
        (w.append_package, (sentinel, sentinel, "pkg", w.CFG), {}),
        (w.extract_turns, (sentinel, "pkg"), {}),
    ]
    for fn, args, kwargs in calls:
        bound = inspect.signature(fn).bind(*args, **kwargs)
        if fn in (w.duplicated_spans, w.strip_duplicated_spans):
            # "rolling" is passed positionally: without a `method` parameter
            # it would bind to `id_col` and the bind alone would still pass
            assert bound.arguments.get("method") == "rolling", fn.__name__
