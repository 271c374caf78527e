"""Benchmark of the spark-text-index engine: one command, two workloads.

    python3 perfbench/run.py --workload {index-build,query} \
        --seed N --seconds S --trace {0,1}

Run it from the root of a checkout. It generates its inputs from ``--seed``,
sets up, discards a warm-up, measures for ``--seconds`` (and at least a
minimum number of timed calls), checks the engine's outputs, and prints, as the last line, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Lines above it name the workload's own figures and the
input properties. It exits non-zero when a check fails, and with code 2
when the engine package is not next to it. See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from spans import SPARK_COUNTS, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
N_FILES = 300
MAX_CORES = 4

# span name -> (time unit, carries Spark jobs/stages/tasks/shuffle bytes)
LAYERS = {
    "index.build.doc_term_rows": ("s", True),
    "index.build.build_index": ("s", True),
    "index.segments.write_index": ("s", True),
    "index.segments.read_index": ("s", True),
    "index.compressed.compress_index": ("s", True),
    "index.compressed.save_compressed": ("s", True),
    "index.compressed.load_compressed": ("s", True),
    "search.wand.LocalSearcher_init": ("s", True),
    "search.wand.wand_topk": ("s", True),
    "search.bm25.bm25_topk": ("s", True),
    "search.wand.LocalSearcher.search": ("us", False),
    "tagging.dictionary.build_tag_dictionary": ("s", True),
    "tagging.join_operator.build_dict_terms": ("s", True),
    "tagging.operator.tag": ("s", True),
    "tagging.operator.translate_ids": ("s", True),
    "tagging.join_operator.tag_join": ("s", True),
}
# per-layer figures that are not span timings: name -> (unit, better)
COUNTS = {
    "index.build.term_seg_rows": ("count", "lower"),
    "index.compressed.blocks": ("count", "lower"),
    "index.compressed.bytes_on_disk": ("bytes", "lower"),
    "search.wand.segments_scored_ratio": ("ratio", "lower"),
    "search.bm25.analyze_query_terms_us": ("us", "lower"),
}
TRACE = {
    "trace.bookkeeping_share": ("ratio", "lower"),
    "trace.items_per_s": ("1/s", "higher"),
    "trace.call_p50_ms": ("ms", "lower"),
}
# Spark job counts under the names the layer map uses for the two scorers
RENAME = {
    "search.wand.wand_topk.jobs": "search.wand.spark_jobs_per_batch",
    "search.bm25.bm25_topk.jobs": "search.bm25.spark_jobs_per_batch",
}


def per_layer_spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in output order; a
    layer the workload does not call reports 0."""
    out = []
    for layer, (unit, spark_counts) in LAYERS.items():
        out.append((f"{layer}_{unit}", unit, "lower"))
        for c in SPARK_COUNTS if spark_counts else ():
            name = f"{layer}.{c}"
            out.append((RENAME.get(name, name), "bytes" if c.endswith("bytes") else "count", "lower"))
    out += [(n, u, b) for n, (u, b) in {**COUNTS, **TRACE}.items()]
    return out


def _session(work: str, cores: int):
    """The engine's session settings (solrtexttagger_spark.session.get_spark)
    pinned to this run: local[cores], as many shuffle partitions, small
    driver memory, and every scratch directory inside the checkout."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.legacy.allowHashOnMapType", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .getOrCreate()
    )


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM: the gateway exits when its stdin
    closes, and it takes its Python workers with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def _write_corpus(rows, path: str, parts: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    cols = ["repo", "path", "commit", "lang", "content"]
    table = pa.table({c: list(v) for c, v in zip(cols, zip(*rows))})
    step = -(-len(rows) // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def _input_properties(corpus) -> dict[str, float]:
    """Input properties printed on every run (see NOTES.md)."""
    from corpus import fitted_zipf_exponent

    cf, _df, total = corpus.term_counts()
    return {
        "input.distinct_terms": len(cf),
        "input.zipf_exponent": fitted_zipf_exponent(cf.values()),
        "input.mean_tokens_per_doc": total / len(corpus.rows),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["index-build", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "solrtexttagger_spark")):
        print(f"engine package solrtexttagger_spark not found under {ROOT}", file=sys.stderr)
        return 2
    # The Python workers Spark forks inherit this environment: they need the
    # engine package on their path, and their temp files inside the checkout.
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    for var in ("SPARK_REMOTE", "SPARK_LOCAL_DIRS"):  # would override the session below
        os.environ.pop(var, None)
    sys.path[:0] = [ROOT, HERE]

    from corpus import make_corpus
    from workloads import (
        CORPUS, MIN_CALLS, PREP, WARMUP, WORKLOADS, Bench, call_request,
    )

    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    spark = _session(work, cores)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        corpus = make_corpus(args.seed, N_FILES)
        _write_corpus(corpus.rows, os.path.join(work, CORPUS), cores)
        tracer = Tracer(spark, enabled=bool(args.trace))
        bench = Bench(spark, tracer, corpus, args.seed, args.seconds, work)
        t0 = time.perf_counter()
        res = WORKLOADS[args.workload](bench)
        wall = time.perf_counter() - t0
        res.counts.update(_input_properties(corpus))
        if tracer.enabled:
            spans_dir = os.path.join(ROOT, ".perfbench", "spans")
            os.makedirs(spans_dir, exist_ok=True)
            tracer.write(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json"))
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = res.end_to_end()
    print(f"workload {args.workload}  seed {args.seed}  local[{cores}]  {N_FILES} files  "
          f"{len(res.call_s)} timed calls  {wall:.1f} s in the workload")
    props = {k: (v, "") for k, v in res.counts.items() if k.startswith("input.")}
    for name, (value, unit) in {**props, **res.report}.items():
        print(f"  {name:36s} {value if value is None else round(value, 4)} {unit}")
    for f in res.failures:
        print(f"  FAILED: {f}")
    if args.trace:
        values = {
            RENAME.get(k, k): v
            for k, v in tracer.layer_metrics(
                LAYERS,
                skip={WARMUP, PREP},
                count_requests={None} | {call_request(i) for i in range(MIN_CALLS)},
            ).items()
        }
        values.update({k: float(res.counts.get(k, 0.0)) for k in COUNTS})
        values["trace.bookkeeping_share"] = tracer.bookkeeping_s / wall
        values["trace.items_per_s"] = e2e["items_per_s"]
        values["trace.call_p50_ms"] = e2e["call_p50_ms"]
        metrics = {n: (values[n], u) for n, u, _b in per_layer_spec()}
    else:
        metrics = {
            "setup_s": (e2e["setup_s"], "s"),
            "items_per_s": (e2e["items_per_s"], "1/s"),
            "call_p50_ms": (e2e["call_p50_ms"], "ms"),
        }
    correct = res.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
