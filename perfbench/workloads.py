"""The three workloads. Each one sets up its inputs from the seed, runs its
operations, checks the answers outside the timed region, and reports
end-to-end and (when traced) per-layer figures.

* ``index_build`` -- the write path: one full fused index build of a corpus.
* ``search_serve`` -- the read path: a time-bounded closed loop of single
  queries against the driver-side serving engine, drawn by Zipf over a
  vocabulary three times the size of the block cache.
* ``corpus_batch`` -- the Spark-job path: bulk search, hot-term queries forced
  onto the distributed router, and the two near-duplicate joins over a corpus
  with planted near-duplicates and a hot boilerplate phrase, once each.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
import traceback
from collections import Counter
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import checks
import gen
from eventlog import Op
from stats import tail_percentile
from trace import Tracer, span_cost_s, trace_layers

K = 10
MIN_COMMON = 5  # ngram_jaccard_pairs threshold; the boilerplate phrase stays below it


@dataclass
class Ctx:
    spark: object
    tmp: Path
    seed: int
    seconds: float
    traced: bool
    ops: list[Op] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    setup_parts: dict[str, float] = field(default_factory=dict)
    tracer: Tracer | None = None

    def run_op(self, kind: str, fn):
        """Run ``fn`` as one labelled operation; returns (seconds, result).
        A raised error counts as a failed operation and yields None."""
        label = f"{kind}#{len(self.ops)}"
        sc = self.spark.sparkContext
        sc.setJobGroup(label, label)
        start = time.time()
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:  # a failed operation is a result, not a crash
            print(f"{label} failed", file=sys.stderr)
            traceback.print_exc()
            result = None
        dt = time.perf_counter() - t0
        sc.setJobGroup("untimed", "untimed")
        self.ops.append(Op(label, kind, start * 1e3, (start + dt) * 1e3))
        self.attempted += 1
        self.failed += result is None
        return dt, result

    def count(self, ok: bool) -> None:
        """Count a wrong answer from an operation already attempted."""
        self.failed += not ok

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()


def write_corpus(corpus: gen.Corpus, path: Path, files: int = 8, rows=None) -> None:
    """Write pages as ``files`` parquet files (columns page_id, url, text, lang)."""
    rows = range(len(corpus.page_id)) if rows is None else rows
    ids = list(rows)
    path.mkdir(parents=True)
    step = -(-len(ids) // files)
    for f in range(files):
        part = ids[f * step : (f + 1) * step]
        if not part:
            break
        tbl = pa.table(
            {
                "page_id": pa.array([corpus.page_id[i] for i in part], pa.int64()),
                "url": [corpus.url[i] for i in part],
                "text": [corpus.text[i] for i in part],
                "lang": [corpus.lang[i] for i in part],
            }
        )
        pq.write_table(tbl, path / f"part-{f:05d}.parquet")


def timed_corpus(ctx: Ctx, make) -> tuple[gen.Corpus, Path]:
    """Generate the corpus and write it as parquet, timed as a set-up part."""
    path = ctx.tmp / "corpus"
    t0 = time.perf_counter()
    corpus = make()
    write_corpus(corpus, path)
    ctx.setup_parts["corpus_s"] = time.perf_counter() - t0
    return corpus, path


def build(spark, pages_path: Path, out: Path):
    from mecab_ko_lucene_analyzer_spark.index import build_and_write

    pages = spark.read.parquet(str(pages_path))
    return build_and_write(pages, str(out), lang_filter="ko", with_blocks=True)


def index_facts(index_dir: Path) -> dict[str, float]:
    """Stage seconds from the build manifest and the index's size."""
    stages = json.loads((index_dir / "manifest.json").read_text())["stages"]
    n_terms = sum(
        pq.ParquetFile(p).metadata.num_rows for p in (index_dir / "term_stats").glob("*.parquet")
    )
    return {
        "index.partials_s": stages["partials"]["seconds"],
        "index.stats_s": stages["stats"]["seconds"],
        "index.blocks_s": stages["blocks"]["seconds"],
        "index.blocks": stages["blocks"]["counters"]["blocks_written"],
        "index.terms": n_terms,
        "index.bytes_written": checks.dir_bytes(str(index_dir)),
    }


def loop(seconds: float, step) -> list[float]:
    """Call ``step()`` (which returns its timed seconds, or None when its
    inputs are used up) until ``seconds`` have passed, at least once."""
    out = []
    t_end = time.perf_counter() + seconds
    while not out or time.perf_counter() < t_end:
        dt = step()
        if dt is None:
            break
        out.append(dt)
    return out


def measure(ctx: Ctx, run, trace_setup=None) -> tuple[list[float], float | None]:
    """Call ``run()``, which returns the op times; traced runs trace all of
    it. Returns the op times and, when traced, the tracing overhead: the
    wrappers' cost per call, measured here, times the calls recorded, over
    the time measured."""
    if not ctx.traced:
        return run(), None
    ctx.tracer = Tracer()
    if trace_setup is not None:
        trace_setup(ctx.tracer)
    times = run()
    calls = len(ctx.tracer.spans)
    return times, calls * span_cost_s() / sum(times)


class Workload:
    name = ""

    def log_layers(self, log: str, ops: list[Op], layers: dict) -> dict[str, float]:
        """Per-layer figures read from the run's Spark event log, given the
        figures already taken."""
        return {}


class IndexBuild(Workload):
    name = "index_build"
    N_PAGES = 5_000
    N_TINY = 200

    def setup(self, ctx: Ctx) -> None:
        from mecab_ko_lucene_analyzer_spark.functions import tokens_table
        import pyspark.sql.functions as F

        spark = ctx.spark
        self.corpus, self.pages = timed_corpus(ctx, lambda: gen.make_corpus(ctx.seed, self.N_PAGES))
        self.tiny = ctx.tmp / "tiny"
        write_corpus(self.corpus, self.tiny, files=2, rows=range(self.N_TINY))
        t0 = time.perf_counter()
        ko = spark.read.parquet(str(self.pages)).filter(F.col("lang") == "ko")
        row = (
            tokens_table(ko, "page_id", "text")
            .groupBy("doc_id", "term")
            .count()
            .agg(F.count("*").alias("pairs"), F.sum("count").alias("tokens"))
            .first()
        )
        self.tokenize_s = time.perf_counter() - t0
        ctx.setup_parts["tokenize_s"] = self.tokenize_s
        self.want_pairs, self.tokens = int(row["pairs"]), int(row["tokens"])
        self.want_docs = self.corpus.ko_pages

    def run(self, ctx: Ctx) -> dict:
        self.last = None

        def step():
            out = ctx.tmp / f"idx{len(ctx.ops)}"
            dt, idx = ctx.run_op("build", lambda: build(ctx.spark, self.pages, out))
            if idx is not None:
                st = pq.read_table(out / "corpus_stats").to_pylist()[0]
                df_sum = pc.sum(pq.read_table(out / "term_stats", columns=["df"])["df"]).as_py()
                ctx.count(checks.build_matches(st["n_docs"], df_sum, self.want_docs, self.want_pairs))
                self.last = index_facts(out)
            shutil.rmtree(out, ignore_errors=True)
            return dt

        # one cold build per process, whatever --seconds says: a second
        # build would be warmer and change what the median measures
        times, overhead = measure(ctx, lambda: [step()])
        text_bytes = self.corpus.ko_text_bytes
        e2e = {
            "op_p50_ms": median(times) * 1e3,
            "throughput_per_s": self.want_docs * len(times) / sum(times),
            "index_bytes_per_text_byte": (self.last or {}).get("index.bytes_written", 0) / text_bytes,
        }
        named = {
            "build_s": (median(times), "s", len(times)),
            "build_docs_per_s": (self.want_docs / median(times), "docs/s", len(times)),
            "index_bytes_per_text_byte": (e2e["index_bytes_per_text_byte"], "ratio", 1),
        }
        layers = {}
        if ctx.traced:
            t0 = time.perf_counter()
            build(ctx.spark, self.tiny, ctx.tmp / "fixed")
            layers["index.fixed_cost_s"] = time.perf_counter() - t0
            layers["analysis.tokenize_s"] = self.tokenize_s
            layers["analysis.tokens"] = self.tokens
            layers.update(self.last or {})
            layers["trace_overhead_frac"] = overhead
        return {"e2e": e2e, "named": named, "layers": layers}


def shared_index(ctx: Ctx, pages: Path) -> Path:
    out = ctx.tmp / "index"
    t0 = time.perf_counter()
    build(ctx.spark, pages, out)
    ctx.setup_parts["index_s"] = time.perf_counter() - t0
    return out


class SearchServe(Workload):
    name = "search_serve"
    N_PAGES = 4_000
    N_CHECK = 100

    def setup(self, ctx: Ctx) -> None:
        from mecab_ko_lucene_analyzer_spark.analysis.dictionary import AnalyzerOption
        from mecab_ko_lucene_analyzer_spark.engine import SearchEngine

        self.corpus, pages = timed_corpus(ctx, lambda: gen.make_corpus(ctx.seed, self.N_PAGES))
        self.index = shared_index(ctx, pages)
        t0 = time.perf_counter()
        self.engine = SearchEngine(ctx.spark, str(self.index), AnalyzerOption())
        inputs = gen.serve_stream(ctx.seed, self.corpus.ranked, int(500 * ctx.seconds) + 1000)
        self.stream = inputs.stream
        # the df of every word the queries use is cached (one lookup job per
        # cover text), so no Spark job runs in the loop; then the block
        # cache is filled past its capacity (a bare generated word is its
        # own term)
        for text in inputs.cover:
            self.engine.count(text, conjunctive=False)
        for text in inputs.fill:
            self.engine.block_cache.get(text.split())
        for q in inputs.warm:
            self.engine.search(q.text, k=K, conjunctive=q.conjunctive)
        ctx.setup_parts["warm_s"] = time.perf_counter() - t0

    def run(self, ctx: Ctx) -> dict:
        answers = []

        def step():
            if len(answers) == len(self.stream):
                return None
            q = self.stream[len(answers)]
            dt, hits = ctx.run_op(
                "search", lambda: self.engine.search(q.text, k=K, conjunctive=q.conjunctive)
            )
            answers.append((q, hits))
            return dt

        cached_before = len(self.engine.block_cache._cache)
        t0 = time.perf_counter()
        times, overhead = measure(ctx, lambda: loop(ctx.seconds, step), trace_layers)
        wall = time.perf_counter() - t0
        cached_after = len(self.engine.block_cache._cache)
        if ctx.tracer is not None:
            ctx.tracer.restore()
        self.check(ctx, answers)
        e2e = {
            "op_p50_ms": median(times) * 1e3,
            "throughput_per_s": len(times) / wall,
            "index_bytes_per_text_byte": checks.dir_bytes(str(self.index)) / self.corpus.ko_text_bytes,
        }
        named = {"search_p50_ms": (median(times) * 1e3, "ms", len(times))}
        tail = tail_percentile(times)
        if tail is not None:
            named[f"search_p{tail.q:g}_ms"] = (tail.value * 1e3, "ms", tail.n)
        named["search_qps"] = (e2e["throughput_per_s"], "1/s", len(times))
        for conj, kind in ((True, "conj"), (False, "disj")):
            xs = [t for t, (q, _) in zip(times, answers) if q.conjunctive == conj]
            if xs:
                named[f"search_{kind}_p50_ms"] = (median(xs) * 1e3, "ms", len(xs))
        layers = {}
        if ctx.traced:
            layers = serving_layers(ctx.tracer)
            fetched = ctx.tracer.counts["query.block_fetch"]
            layers["query.block_evictions"] = fetched - (cached_after - cached_before)
            layers.update(index_facts(self.index))
            layers["trace_overhead_frac"] = overhead
        return {"e2e": e2e, "named": named, "layers": layers}

    def check(self, ctx: Ctx, answers) -> None:
        from mecab_ko_lucene_analyzer_spark.analysis.dictionary import AnalyzerOption, analyze_query

        ref = checks.BruteForceBM25(str(self.index))
        opt = AnalyzerOption()
        for i in gen.sample(ctx.seed, "serve-check", len(answers), self.N_CHECK):
            q, hits = answers[i]
            if hits is None:
                continue
            terms = [t["term"] for t in analyze_query(q.text, opt)]
            truth = ref.scores(terms, q.conjunctive)
            got = [(h["doc_id"], h["score"]) for h in hits]
            urls = ref.urls(d for d, _ in got)
            ok = checks.topk_matches(got, truth, K) and all(h["url"] == urls.get(h["doc_id"]) for h in hits)
            ctx.count(ok)


def serving_layers(tracer: Tracer) -> dict[str, float]:
    """Per-search serving-path figures from the traced loop."""
    tot = tracer.totals()

    def total_ms(name):
        return tot.get(name, (0.0, 0.0, 0))[0] * 1e3

    def self_ms(name):
        return tot.get(name, (0.0, 0.0, 0))[1] * 1e3

    n = max(tot.get("engine.search", (0, 0, 0))[2], 1)
    requested = tracer.counts["query.block_get"]
    fetched = tracer.counts["query.block_fetch"]
    analyze_calls = tot.get("analysis.analyze", (0, 0, 0))[2]
    return {
        "analysis.analyze_ms": total_ms("analysis.analyze") / max(analyze_calls, 1),
        "analysis.analyze_calls": analyze_calls,
        "query.block_cache_hit_ratio": 1 - fetched / requested if requested else 0.0,
        "query.block_fetch_ms": total_ms("query.block_fetch") / n,
        "query.block_fetch_terms": fetched,
        "query.distinct_terms": len(tracer.distinct["query.block_get"]),
        "query.dfs_ms": total_ms("query.dfs") / n,
        "query.execute_ms": self_ms("query.execute") / n,
        "query.wand_ms": total_ms("query.wand") / n,
        "query.resolve_ms": total_ms("query.resolve") / n,
        "engine.self_ms": self_ms("engine.search") / n,
    }


class CorpusBatch(Workload):
    name = "corpus_batch"
    N_PAGES = 4_000
    DUP_SHARE = 0.02
    BOILERPLATE_SHARE = 0.05
    N_BULK = 100
    N_BULK_CHECK = 30
    N_PAIR_CHECK = 50

    def setup(self, ctx: Ctx) -> None:
        import pyspark.sql.functions as F

        from mecab_ko_lucene_analyzer_spark.analysis.dictionary import AnalyzerOption
        from mecab_ko_lucene_analyzer_spark.engine import SearchEngine
        spark = ctx.spark
        self.corpus, pages = timed_corpus(
            ctx,
            lambda: gen.make_corpus(
                ctx.seed, self.N_PAGES, dup_share=self.DUP_SHARE, boilerplate_share=self.BOILERPLATE_SHARE
            ),
        )
        self.index = shared_index(ctx, pages)
        t0 = time.perf_counter()
        opt = AnalyzerOption()
        self.engine = SearchEngine(spark, str(self.index), opt)
        # the hot words take the distributed route: the threshold sits just
        # below the smallest df among them
        hot = self.corpus.ranked[:3]
        dfs = self._dfs(hot)
        self.routed_engine = SearchEngine(spark, str(self.index), opt, max_driver_df=min(dfs.values()) - 1)
        self.routed_queries = [f"{hot[0]} {hot[1]}", f"{hot[1]} {hot[2]}"]
        self.batch = gen.batch_queries(ctx.seed, self.corpus.ranked, self.N_BULK)
        self.docs = spark.read.parquet(str(pages)).select(F.col("page_id").alias("doc_id"), "text")
        # references for the checks
        self.shingles = {p: checks.shingle_set(t) for p, t in zip(self.corpus.page_id, self.corpus.text)}
        self.required = {
            (a, b) for a, b in self.corpus.planted
            if len(self.shingles[a] & self.shingles[b]) >= MIN_COMMON
        }
        ctx.setup_parts["warm_s"] = time.perf_counter() - t0

    def _dfs(self, terms) -> dict[str, int]:
        tbl = pq.read_table(self.index / "term_stats", columns=["term", "df"])
        want = set(terms)
        return {t: int(d) for t, d in zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()) if t in want}

    def run(self, ctx: Ctx) -> dict:
        from mecab_ko_lucene_analyzer_spark.functions.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

        per_kind: dict[str, list[float]] = {"bulk": [], "routed": [], "near_dup": [], "minhash": []}
        outputs: dict[str, list] = {k: [] for k in per_kind}

        def op(kind, fn):
            dt, out = ctx.run_op(kind, fn)
            per_kind[kind].append(dt)
            outputs[kind].append(out)
            return dt

        def bulk():
            # search_bulk only plans; the span covers the job that runs it
            with ctx.span("query.bulk"):
                return self.engine.search_bulk(self.batch, k=K).collect()

        def routed(q):
            hits = self.routed_engine.search(q, k=K)
            return q, self.routed_engine.last_route, [(h["doc_id"], h["score"]) for h in hits]

        def step():
            total = op("bulk", bulk)
            for q in self.routed_queries:
                total += op("routed", lambda: routed(q))
            total += op("near_dup", lambda: ngram_jaccard_pairs(self.docs, min_common=MIN_COMMON).collect())
            total += op("minhash", lambda: minhash_lsh_pairs(self.docs).collect())
            return total

        # one round per process, whatever --seconds says, as an offline job
        # runs once
        rounds, overhead = measure(ctx, lambda: [step()], trace_layers)
        if ctx.tracer is not None:
            ctx.tracer.restore()
        found = self.check(ctx, outputs)
        n_ops = sum(len(v) for v in per_kind.values())
        e2e = {
            "op_p50_ms": median(rounds) * 1e3,
            "throughput_per_s": n_ops / sum(rounds),
            "index_bytes_per_text_byte": checks.dir_bytes(str(self.index)) / self.corpus.ko_text_bytes,
        }
        named = {
            "bulk_search_s": (median(per_kind["bulk"]), "s", len(per_kind["bulk"])),
            "routed_search_p50_ms": (median(per_kind["routed"]) * 1e3, "ms", len(per_kind["routed"])),
            "near_dup_pairs_s": (median(per_kind["near_dup"]), "s", len(per_kind["near_dup"])),
            "minhash_pairs_s": (median(per_kind["minhash"]), "s", len(per_kind["minhash"])),
        }
        layers = {}
        if ctx.traced:
            tot = ctx.tracer.totals()
            for name in ("query.bulk", "query.routed"):
                total, _, calls = tot.get(name, (0.0, 0.0, 0))
                layers[f"{name}_ms"] = total / max(calls, 1) * 1e3
            layers.update(serving_layers(ctx.tracer))
            layers.update(self.dedup_layers(*found))
            layers.update(index_facts(self.index))
            layers["trace_overhead_frac"] = overhead
        return {"e2e": e2e, "named": named, "layers": layers}

    def check(self, ctx: Ctx, outputs) -> tuple[dict, set]:
        """Count wrong answers; returns the last near-dup pairs and minhash
        candidates."""
        from mecab_ko_lucene_analyzer_spark.analysis.dictionary import analyze_query

        ref = checks.BruteForceBM25(str(self.index))
        truth = {
            i: ref.scores([t["term"] for t in analyze_query(self.batch[i], self.engine.option)], True)
            for i in gen.sample(ctx.seed, "bulk-check", len(self.batch), self.N_BULK_CHECK)
        }
        for rows in filter(None, outputs["bulk"]):
            by_q: dict[int, list] = {}
            for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
                by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
            ctx.count(all(checks.topk_matches(by_q.get(i, []), t, K) for i, t in truth.items()))
        want_routed = {
            q: [(h["doc_id"], h["score"]) for h in self.engine.search(q, k=K)]
            for q in self.routed_queries
        }
        for q, route, hits in filter(None, outputs["routed"]):
            ctx.count(route == "distributed" and self._same_ranking(hits, want_routed[q]))
        found: dict = {}
        for rows in filter(None, outputs["near_dup"]):
            found = {(r["doc_a"], r["doc_b"]): r["common_shingles"] for r in rows}
            pairs = sorted(found)
            verify = [pairs[i] for i in gen.sample(ctx.seed, "pair-check", len(pairs), self.N_PAIR_CHECK)]
            ctx.count(checks.pairs_match(found, self.required, verify, self.shingles, MIN_COMMON))
        cand: set = set()
        n = len(self.corpus.page_id)
        for rows in filter(None, outputs["minhash"]):
            cand = {(r["doc_a"], r["doc_b"]) for r in rows}
            ctx.count(all(0 <= a < b < n for a, b in cand))
        return found, cand

    @staticmethod
    def _same_ranking(got, want) -> bool:
        return len(got) == len(want) and all(
            d1 == d2 and abs(s1 - s2) <= checks.SCORE_TOL * max(1.0, abs(s2))
            for (d1, s1), (d2, s2) in zip(got, want)
        )

    def dedup_layers(self, found: dict, cand: set) -> dict[str, float]:
        """The joins' outputs, and the input's shingle buckets: the pairs a
        full expansion of them would make and the largest bucket."""
        df = Counter(s for sh in self.shingles.values() for s in sh)
        planted = set(self.corpus.planted)
        return {
            "input.shingle_pairs": sum(d * (d - 1) // 2 for d in df.values()),
            "input.max_shingle_df": max(df.values()),
            "functions.near_dup_pairs": len(found),
            "functions.minhash_candidates": len(cand),
            "functions.planted_recall": len(planted & cand) / len(planted) if planted else 0.0,
        }

    def log_layers(self, log: str, ops: list[Op], layers: dict) -> dict[str, float]:
        """The candidate pairs ``ngram_jaccard_pairs`` expanded, as its
        plan's operators counted them, and the share that were output."""
        from eventlog import expanded_rows, read_events

        attempts = expanded_rows(read_events(log), ops).get("near_dup", 0.0)
        found = layers.get("functions.near_dup_pairs", 0)
        return {
            "functions.shingle_candidate_pairs": attempts,
            "functions.near_dup_useful_ratio": found / attempts if attempts else 0.0,
        }


WORKLOADS = {w.name: w for w in (IndexBuild, SearchServe, CorpusBatch)}
