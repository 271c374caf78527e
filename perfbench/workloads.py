"""The two workloads: ``index-build`` and ``query``.

Each workload function takes a ``Bench`` (session, tracer, inputs, run
length) and returns a ``Result``. The end-to-end figures are the same three
for both workloads, each over that workload's own unit of work:

* ``setup_s``: median of ``SETUP_REPS`` repetitions of the workload's set-up;
* ``items_per_s``: items finished per second over the whole timed phase;
* ``call_p50_ms``: median wall time of one timed call (one pass over the
  corpus, one query round).

Every call into the engine goes through a public function of
``solrtexttagger_spark``. With tracing on, each call sits in its own span
and its lazy output is forced and materialized inside that span, so the
next span measures only its own layer.
"""

from __future__ import annotations

import dataclasses
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from solrtexttagger_spark.analysis.core import query_analyze
from solrtexttagger_spark.index.build import build_index, doc_term_rows, with_doc_ids
from solrtexttagger_spark.index.compressed import compress_index, load_compressed, save_compressed
from solrtexttagger_spark.index.segments import read_index, write_index
from solrtexttagger_spark.search.bm25 import analyze_query_terms, bm25_topk
from solrtexttagger_spark.search.wand import LocalSearcher, reset_query_caches, wand_topk
from solrtexttagger_spark.tagging.core import tag_text
from solrtexttagger_spark.tagging.dictionary import build_tag_dictionary
from solrtexttagger_spark.tagging.join_operator import build_dict_terms, tag_join
from solrtexttagger_spark.tagging.operator import tag, translate_ids

from corpus import Corpus, make_gazetteer, make_queries

KEY_COLS = ["repo", "path", "commit"]
SETUP_REPS = 3
MIN_CALLS = 2  # a timed phase holds at least this many calls, however long they take
TOP_K = 10
BATCH = 10  # queries per wand_topk / bm25_topk call
N_NAMES = 2000  # gazetteer size
TAG_SAMPLE = 40  # docs checked three ways (tag, tag_join, tag_text)
SCORE_RTOL = 1e-9  # scorers sum floats in different orders
# requests whose spans are left out of the per-layer figures: the discarded
# warm-up, and the index build the query workload serves from
WARMUP, PREP = "warmup", "prep"
CORPUS = "corpus"  # the corpus's parquet directory under the run's scratch directory


@dataclass
class Bench:
    spark: object
    tracer: object
    corpus: Corpus
    seed: int
    seconds: float
    work: str  # scratch directory of this run

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


@dataclass
class Result:
    setup_s: list[float] = field(default_factory=list)
    call_s: list[float] = field(default_factory=list)
    items: int = 0
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    report: dict = field(default_factory=dict)  # named figures printed for the reader
    counts: dict = field(default_factory=dict)  # per-layer counts and input properties

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": statistics.median(self.setup_s),
            "items_per_s": self.items / sum(self.call_s),
            "call_p50_ms": statistics.median(self.call_s) * 1e3,
        }


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _noop(df) -> None:
    """Force every column of a DataFrame without keeping it."""
    df.write.format("noop").mode("overwrite").save()


def _cp(df):
    return df.localCheckpoint(eager=True)


def _clear(*dirs: str) -> None:
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.endswith(".crc")
    )


def call_request(i: int) -> str:
    return f"call-{i}"


def _timed_phase(b: Bench, call) -> list[float]:
    """Run ``call(i)`` until the run's seconds are spent (and at least
    MIN_CALLS times); return each call's own seconds. ``call`` returns the
    seconds it spent in the engine, which leaves its checks out."""
    times: list[float] = []
    t_end = time.perf_counter() + b.seconds
    while len(times) < MIN_CALLS or time.perf_counter() < t_end:
        with b.tracer.request(call_request(len(times))):
            times.append(call(len(times)))
    return times


# --------------------------------------------------------------------------
# index-build


def _source_docs(b: Bench):
    return with_doc_ids(b.spark.read.parquet(b.path(CORPUS)), KEY_COLS)


def build_pass(b: Bench, idx_dir: str, cidx_dir: str) -> tuple[dict, float]:
    """One pass of the production write path (jobs/build_index_job.py):
    with_doc_ids -> build_index -> write_index -> compress_index over the
    written index -> save_compressed. Output directories start empty."""
    _clear(idx_dir, cidx_dir)
    tr = b.tracer
    t0 = time.perf_counter()
    docs = _source_docs(b)
    if tr.enabled:
        with tr.span("index.build.doc_term_rows", spark_counts=True):
            _noop(doc_term_rows(docs, text_col="content"))
    with tr.span("index.build.build_index", spark_counts=True):
        index = build_index(docs, text_col="content")
        if tr.enabled:
            index = dataclasses.replace(
                index, postings=_cp(index.postings), term_stats=_cp(index.term_stats)
            )
    with tr.span("index.segments.write_index", spark_counts=True):
        manifest = write_index(index, idx_dir)
    with tr.span("index.segments.read_index", spark_counts=True):
        written = read_index(b.spark, idx_dir)
    with tr.span("index.compressed.compress_index", spark_counts=True):
        cindex = compress_index(written)
        if tr.enabled:
            cindex = dataclasses.replace(cindex, blocks=_cp(cindex.blocks))
    with tr.span("index.compressed.save_compressed", spark_counts=True):
        save_compressed(cindex, cidx_dir)
    return manifest, time.perf_counter() - t0


def _check_read_back(b: Bench, res: Result, manifest: dict, idx_dir: str, cidx_dir: str) -> None:
    """Row counts read back equal the written ones: the manifest's per-file
    term counts, one block per (term, seg) shard, equal term_stats."""
    n = len(b.corpus.rows)
    written = sum(s["n_terms"] for s in manifest["segments"])
    index = read_index(b.spark, idx_dir)
    cindex = load_compressed(b.spark, cidx_dir)
    postings, blocks = index.postings.count(), cindex.blocks.count()
    res.check(postings == written, f"read_index postings {postings} != written {written}")
    res.check(blocks == written, f"load_compressed blocks {blocks} != written {written}")
    ts, cts = index.term_stats.count(), cindex.term_stats.count()
    res.check(ts == cts, f"term_stats rows {ts} (index) != {cts} (compressed)")
    res.check(index.doc_count == n and cindex.doc_count == n, f"doc_count != {n}")
    res.counts["index.build.term_seg_rows"] = written
    res.counts["index.compressed.blocks"] = blocks
    res.counts["index.compressed.bytes_on_disk"] = _du(cidx_dir)


def run_index_build(b: Bench) -> Result:
    """Whole-corpus batch passes: each timed call builds the index (write
    path) and then tags the corpus against the gazetteer, with tag and with
    tag_join. Set-up loads the source table and builds both dictionaries."""
    res = Result()
    n = len(b.corpus.rows)
    idx_dir, cidx_dir = b.path("index"), b.path("cindex")
    tagger = _Tagger(b)

    def set_up() -> float:
        t0 = time.perf_counter()
        _source_docs(b).count()
        tagger.set_up()
        return time.perf_counter() - t0

    res.setup_s = [set_up() for _ in range(SETUP_REPS)]
    with b.tracer.request(WARMUP):
        build_pass(b, idx_dir, cidx_dir)
        tagger.round()
    manifests = []
    build_s, tag_s, join_s = [], [], []

    def call(_i):
        try:
            manifest, s_build = build_pass(b, idx_dir, cidx_dir)
            s_tag, s_join = tagger.round()
        except Exception as e:  # a failed pass is a failed operation, not a crash
            res.check(False, f"corpus pass raised {e!r}")
            return math.nan
        res.check(True, "corpus pass")
        manifests.append(manifest)
        build_s.append(s_build)
        tag_s.append(s_tag)
        join_s.append(s_join)
        return s_build + s_tag + s_join

    res.call_s = [s for s in _timed_phase(b, call) if not math.isnan(s)]
    res.items = n * len(res.call_s)
    if manifests:
        _check_read_back(b, res, manifests[-1], idx_dir, cidx_dir)
        _check_tags(b, res, tagger)
        res.report["build_docs_per_s"] = (n * len(build_s) / sum(build_s), "1/s")
        res.report["index_bytes_per_input_byte"] = (
            res.counts["index.compressed.bytes_on_disk"] / b.corpus.content_bytes,
            "ratio",
        )
        res.report["tag_docs_per_s"] = (n * len(tag_s) / sum(tag_s), "1/s")
        res.report["tag_join_docs_per_s"] = (n * len(join_s) / sum(join_s), "1/s")
    return res


# --------------------------------------------------------------------------
# query


def _split_rounds(queries: list[str], df: dict[str, int]) -> list[tuple[list, list]]:
    """Cut the stream into rounds of 2 x BATCH queries; in each round the
    BATCH queries with the largest posting volume form the head batch and
    the rest the tail batch, so every round sends both kinds."""
    rounds = []
    for at in range(0, len(queries) - 2 * BATCH + 1, 2 * BATCH):
        chunk = queries[at : at + 2 * BATCH]
        vol = [sum(df.get(t, 0) for t in set(q.split())) for q in chunk]
        order = sorted(range(len(chunk)), key=lambda i: (-vol[i], i))
        head = [(at + i, chunk[i]) for i in order[:BATCH]]
        tail = [(at + i, chunk[i]) for i in order[BATCH:]]
        rounds.append((head, tail))
    return rounds


def _same_topk(a: list[tuple[int, float]], b: list[tuple[int, float]]) -> bool:
    return len(a) == len(b) and all(
        da == db and math.isclose(sa, sb, rel_tol=SCORE_RTOL, abs_tol=SCORE_RTOL)
        for (da, sa), (db, sb) in zip(a, b)
    )


def _by_query(rows) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return out


class _QueryState:
    """The loaded index the query rounds serve from, plus the input
    properties the rounds observe."""

    def __init__(self, b: Bench):
        self.b = b
        self.index = self.cindex = self.searcher = None
        self.seen_terms: set[str] = set()
        self.batches = self.distributed = 0
        self.queries = self.all_seen = 0
        self.scored = self.total_segs = 0
        self.serve_s: list[float] = []
        self.wand_s: list[float] = []
        self.bm25_s: list[float] = []

    def set_up(self) -> float:
        """read_index + load_compressed + LocalSearcher: the serving set-up.
        The previous set-up's cached artifacts are dropped first."""
        b, tr = self.b, self.b.tracer
        for old in (self.index and self.index.postings, self.cindex and self.cindex.blocks):
            if old is not None:
                old.unpersist()
        t0 = time.perf_counter()
        with tr.span("index.segments.read_index", spark_counts=True):
            index = read_index(b.spark, b.path("index"))
            index.postings.persist().count()  # the scorers read postings per batch
        with tr.span("index.compressed.load_compressed", spark_counts=True):
            cindex = load_compressed(b.spark, b.path("cindex"))
            cindex.blocks.persist().count()
        with tr.span("search.wand.LocalSearcher_init", spark_counts=True):
            searcher = LocalSearcher(cindex)
        self.index, self.cindex, self.searcher = index, cindex, searcher
        return time.perf_counter() - t0

    def round(self, batches, res: Result | None) -> float:
        """Answer each batch three ways; return the engine seconds.
        With ``res`` given, check rank identity and record properties."""
        b, tr = self.b, self.b.tracer
        spent = 0.0
        threshold = len(b.corpus.rows)  # see NOTES.md: the local-plan cutoff scaled to the corpus
        for batch in batches:
            stats: dict = {}
            with tr.span("search.wand.wand_topk", spark_counts=True):
                wand, s = _timed(
                    lambda: wand_topk(
                        self.cindex, batch, k=TOP_K, prune_stats=stats,
                        local_threshold_postings=threshold,
                    ).collect()
                )
            spent += s
            self.wand_s.append(s)
            with tr.span("search.bm25.bm25_topk", spark_counts=True):
                bm25, s = _timed(lambda: bm25_topk(self.index, batch, k=TOP_K).collect())
            spent += s
            self.bm25_s.append(s)
            local = {}
            for qid, q in batch:
                with tr.span("search.wand.LocalSearcher.search"):
                    hits, s = _timed(lambda: self.searcher.search(q, k=TOP_K))
                spent += s
                self.serve_s.append(s)
                local[qid] = [(d, sc) for _r, d, sc in hits]
            if res is None:
                continue
            self.batches += 1
            self.distributed += not stats.get("local", False)
            self.scored += stats.get("segments_scored", 0)
            self.total_segs += stats.get("segments_total", 0)
            wand_q, bm25_q = _by_query(wand), _by_query(bm25)
            for qid, q in batch:
                terms = set(analyze_query_terms(q))
                self.queries += 1
                self.all_seen += terms <= self.seen_terms
                self.seen_terms |= terms
                for name, got in (("wand_topk", wand_q), ("bm25_topk", bm25_q)):
                    res.check(
                        _same_topk(got.get(qid, []), local[qid]),
                        f"{name} != LocalSearcher.search for query {q!r}",
                    )
        return spent


def run_query(b: Bench) -> Result:
    res = Result()
    with b.tracer.request(PREP):  # builds the index the workload serves
        build_pass(b, b.path("index"), b.path("cindex"))
    state = _QueryState(b)
    res.setup_s = [state.set_up() for _ in range(SETUP_REPS)]
    _cf, df, _total = b.corpus.term_counts()
    rounds = _split_rounds(make_queries(b.seed, b.corpus, 4000), df)
    with b.tracer.request(WARMUP):  # on one head batch
        state.round(rounds[0][:1], None)
    # the timed phase starts from empty driver caches; head terms then hit
    # them as the Zipf stream repeats, tail terms miss
    reset_query_caches(state.cindex)
    reset_query_caches(state.index)

    def call(i):
        try:
            return state.round(rounds[1 + i], res)
        except Exception as e:
            res.check(False, f"query round raised {e!r}")
            return math.nan

    res.call_s = [s for s in _timed_phase(b, call) if not math.isnan(s)]
    res.items = 2 * BATCH * len(res.call_s)
    qs = [q for r in rounds for part in r for _i, q in part]
    t0 = time.perf_counter()
    for q in qs:
        analyze_query_terms(q)
    res.counts["search.bm25.analyze_query_terms_us"] = (time.perf_counter() - t0) / len(qs) * 1e6
    res.counts["search.wand.segments_scored_ratio"] = state.scored / max(1, state.total_segs)
    res.counts["input.distributed_plan_share"] = state.distributed / max(1, state.batches)
    res.counts["input.cache_hit_share"] = state.all_seen / max(1, state.queries)
    serve = np.asarray(state.serve_s) * 1e3
    res.report.update(
        {
            "wand_batch_p50_ms": (float(np.median(state.wand_s)) * 1e3, "ms"),
            "bm25_batch_p50_ms": (float(np.median(state.bm25_s)) * 1e3, "ms"),
            "serve_qps": (len(serve) / (serve.sum() / 1e3), "1/s"),
            "serve_p50_ms": (float(np.median(serve)), "ms"),
        }
    )
    _tail_percentile(res, "wand_batch_p90_ms", np.asarray(state.wand_s) * 1e3, 90)
    _tail_percentile(res, "serve_p99_ms", serve, 99)
    return res


def _tail_percentile(res: Result, name: str, values: np.ndarray, pct: int) -> None:
    """Report a tail percentile only when at least ten samples lie beyond it."""
    need = math.ceil(10 * 100 / (100 - pct))
    if len(values) >= need:
        res.report[name] = (float(np.percentile(values, pct)), "ms")
    else:
        res.report[name] = (None, f"not reported: {len(values)} samples, needs {need}")


# --------------------------------------------------------------------------
# tagging


def _texts(b: Bench):
    """(qdoc_id, text) with qdoc_id = the generator's row index, which the
    planted-phrase offsets refer to (it is the number in ``path``)."""
    return b.spark.read.parquet(b.path(CORPUS)).select(
        F.regexp_extract("path", r"file(\d+)\.", 1).cast("long").alias("qdoc_id"),
        F.col("content").alias("text"),
    )


def _tag_set(rows) -> set:
    return {(r["qdoc_id"], r["start"], r["end"], frozenset(r["doc_ids"])) for r in rows}


class _Tagger:
    """The gazetteer, both tag dictionaries built from it, and one tag round."""

    def __init__(self, b: Bench):
        self.b = b
        self.names = b.spark.createDataFrame(
            make_gazetteer(b.seed, b.corpus, N_NAMES), "id string, name string"
        )
        self.dictionary = self.dict_terms = None

    def set_up(self) -> None:
        """build_tag_dictionary + build_dict_terms (materialized), after
        dropping the table the previous build_tag_dictionary cached."""
        tr = self.b.tracer
        if self.dictionary is not None:
            self.dictionary.docs_df.unpersist()
        with tr.span("tagging.dictionary.build_tag_dictionary", spark_counts=True):
            self.dictionary = build_tag_dictionary(self.names)
        with tr.span("tagging.join_operator.build_dict_terms", spark_counts=True):
            self.dict_terms = _cp(build_dict_terms(self.names))

    def round(self) -> tuple[float, float]:
        """A whole-corpus tag pass (LONGEST_DOMINANT_RIGHT, ids translated)
        and a whole-corpus tag_join pass (NO_SUB); seconds of each."""
        b, tr, d = self.b, self.b.tracer, self.dictionary
        t0 = time.perf_counter()
        if tr.enabled:
            with tr.span("tagging.operator.tag", spark_counts=True):
                tags = _cp(tag(_texts(b), d, overlaps="LONGEST_DOMINANT_RIGHT"))
            with tr.span("tagging.operator.translate_ids", spark_counts=True):
                _noop(translate_ids(tags, d))
        else:
            _noop(translate_ids(tag(_texts(b), d, overlaps="LONGEST_DOMINANT_RIGHT"), d))
        t1 = time.perf_counter()
        with tr.span("tagging.join_operator.tag_join", spark_counts=True):
            _noop(tag_join(_texts(b), self.dict_terms, overlaps="NO_SUB"))
        return t1 - t0, time.perf_counter() - t1


def _check_tags(b: Bench, res: Result, tagger: _Tagger) -> None:
    """On a fixed doc sample, tag and tag_join (NO_SUB) and tag
    (LONGEST_DOMINANT_RIGHT) equal tagging.core.tag_text in the same mode;
    every planted phrase is tagged at its planted offsets."""
    d = tagger.dictionary
    rng = np.random.default_rng([b.seed, 4])
    pick = sorted(rng.choice(len(b.corpus.rows), TAG_SAMPLE, replace=False).tolist())
    sample = b.spark.createDataFrame(
        [(i, b.corpus.rows[i][4]) for i in pick], "qdoc_id long, text string"
    )
    for mode in ("NO_SUB", "LONGEST_DOMINANT_RIGHT"):
        pure = {
            (i, s, e, frozenset(ids))
            for i in pick
            for s, e, ids in tag_text(
                query_analyze(b.corpus.rows[i][4]), d.term_dict, overlaps=mode, tags_limit=1000
            )
        }
        got = {"tag": _tag_set(tag(sample, d, overlaps=mode).collect())}
        if mode == "NO_SUB":  # the mode the timed tag_join passes use
            got["tag_join"] = _tag_set(tag_join(sample, tagger.dict_terms, overlaps=mode).collect())
        for name, tags in got.items():
            res.check(tags == pure, f"{name} != tag_text ({mode}) on sample: {len(tags ^ pure)} differ")

    spans = {
        (r["qdoc_id"], r["start"], r["end"])
        for r in tag(_texts(b), d, overlaps="LONGEST_DOMINANT_RIGHT").select("qdoc_id", "start", "end").collect()
    }
    missing = sum((i, s, e) not in spans for i, s, e, _p in b.corpus.planted)
    res.check(missing == 0, f"{missing} of {len(b.corpus.planted)} planted phrases not tagged")
    res.counts["input.tags_per_doc"] = len(spans) / len(b.corpus.rows)


WORKLOADS = {"index-build": run_index_build, "query": run_query}
