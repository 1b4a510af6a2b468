"""The benchmark's three workloads, driven through the engine's public
functions.

Each workload has

* ``ops(ctx)``     — the operations of one pass, ``(name, fn)`` pairs; an
  operation runs from the call into the engine to the end of its action
  and returns the output the oracle check compares;
* ``prefix(ctx)``  — the traced run's per-layer pass: it forces each
  layer's output on its own (a ``noop`` write) and takes the layer's
  self time as that minus the time of the prefix it consumes;
* ``check(...)``   — the comparison of a pass's outputs with the DuckDB
  oracle twins of the same generated inputs;
* ``warmup``       — untimed passes between set-up and the timed passes.

Spans go around every call into a layer (``ctx.tracer.span``); in the
untraced run they record nothing.

``wiki_corpus`` is the paper's pipeline. Its check fails on the engine
as it stands: ``tfidf`` rounds tf and tf_idf with Spark's ``round``
(half-up on the exact binary value), while the ``tfidf_full`` oracle and
the reference's ``Math.round(x*100)/100`` round the scaled double, so
products such as 0.05 * 2.3 = 0.11499999999999999 give 0.11 against
0.12. Any corpus with a realistic vocabulary has such rows.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

from wikipedia_data_pipeline_spark import registry
from wikipedia_data_pipeline_spark.operators import dedup, ranks, text, tfidf
from wikipedia_data_pipeline_spark.plans import executed_plan
from wikipedia_data_pipeline_spark.sources import io
from wikipedia_data_pipeline_spark.sources.tables import TABLE_NAMES, load_table

import oracle

LSH_THRESHOLD = 0.5


@dataclass
class Context:
    spark: object
    data: str  # generated input directory
    work: str  # scratch directory for written outputs
    tracer: object
    seed: int
    state: dict = field(default_factory=dict)


def force(df) -> None:
    """Materialize every column of every row, keep nothing."""
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


# --- wiki_corpus ----------------------------------------------------------------


class WikiCorpus:
    name = "wiki_corpus"
    item = "document"
    warmup = 0

    def items(self, props: dict) -> int:
        return props["docs"]

    def _docs(self, ctx):
        t = ctx.tracer
        with t.span("read_text_corpus", "sources"):
            lines = io.read_text_corpus(ctx.spark, os.path.join(ctx.data, "corpus.txt"))
        with t.span("parse_wiki_lines", "operators.text"):
            return text.parse_wiki_lines(lines)

    def ops(self, ctx):
        t = ctx.tracer
        out = os.path.join(ctx.work, "tfidf")

        def tfidf_write():
            docs = self._docs(ctx)
            with t.span("tfidf", "operators.tfidf"):
                rel = tfidf.tfidf(docs)
            with t.span("write_table", "sources"):
                io.write_table(rel, out)
            return out

        def task1_dictionary():
            docs = self._docs(ctx)
            with t.span("task1_dictionary", "operators.tfidf"):
                df = tfidf.task1_dictionary(docs)
                return df.columns, df.collect()

        def minhash_lsh_pairs():
            docs = self._docs(ctx)
            with t.span("minhash_lsh_pairs", "operators.dedup"):
                ctx.state["pairs"] = dedup.minhash_lsh_pairs(docs, LSH_THRESHOLD)
                return ctx.state["pairs"].collect()

        def near_dup_clusters():
            docs = self._docs(ctx)
            with t.span("near_dup_clusters", "operators.dedup"):
                clusters = dedup.near_dup_clusters(docs, ctx.state["pairs"])
                return clusters.filter("NOT keep").collect()

        return [
            ("tfidf_write", tfidf_write),
            ("task1_dictionary", task1_dictionary),
            ("minhash_lsh_pairs", minhash_lsh_pairs),
            ("near_dup_clusters", near_dup_clusters),
        ]

    def prefix(self, ctx) -> dict:
        spark, t = ctx.spark, ctx.tracer
        path = os.path.join(ctx.data, "corpus.txt")

        def step(name, layer, make):
            with t.span(name, layer):
                secs = timed(lambda: force(make()))
            ranks.unpersist_all()  # a later step must not read this one's cache
            return secs

        lines = lambda: io.read_text_corpus(spark, path)  # noqa: E731
        docs = lambda: text.parse_wiki_lines(lines())  # noqa: E731
        scan = step("scan", "sources", lines)
        parse = step("parse", "operators.text", docs)
        tok = step("tokenize", "operators.text", lambda: text.tokenize(docs()))
        counts = step("counts", "operators.tfidf", lambda: tfidf.doc_term_counts(docs()))
        idf = step("idf", "operators.tfidf", lambda: tfidf.idf(docs()))
        joined = step("join", "operators.tfidf", lambda: tfidf.tfidf(docs()))
        out = os.path.join(ctx.work, "tfidf-prefix")
        with t.span("write", "sources"):
            write = timed(lambda: io.write_table(tfidf.tfidf(docs()), out))
        ranks.unpersist_all()
        dictionary = step("dictionary", "operators.tfidf", lambda: tfidf.task1_dictionary(docs()))
        lsh = step("lsh", "operators.dedup", lambda: dedup.minhash_lsh_pairs(docs(), LSH_THRESHOLD))
        with t.span("clusters", "operators.dedup"):
            clusters = timed(
                lambda: force(dedup.near_dup_clusters(docs(), dedup.minhash_lsh_pairs(docs(), LSH_THRESHOLD)))
            )
        ranks.unpersist_all()
        # counts the pass above does not return (untimed)
        hashed = dedup.hashed_shingles(docs())
        cands = dedup.lsh_candidate_pairs(hashed)
        n_cands = cands.count()
        n_verified = dedup.verify_pairs_jaccard(cands, hashed, LSH_THRESHOLD).count()
        return {
            "sources.scan_s": scan,
            "sources.write_s": write - joined,
            "sources.written_mb": dir_mb(out),
            "operators.text.parse_s": parse - scan,
            "operators.text.tokenize_s": tok - parse,
            "operators.text.tokens": text.tokenize(docs()).count(),
            "operators.tfidf.counts_s": counts - tok,
            "operators.tfidf.idf_s": idf - counts,
            "operators.tfidf.join_s": joined - idf,
            "operators.tfidf.dictionary_s": dictionary - tok,
            "operators.tfidf.vocab": tfidf.idf(docs()).count(),
            "operators.dedup.lsh_s": lsh - parse,
            "operators.dedup.clusters_s": clusters - lsh,
            "operators.dedup.candidate_pairs": n_cands,
            "operators.dedup.verified_pairs": n_verified,
            "operators.dedup.verify_yield": n_verified / max(n_cands, 1),
        }

    def check(self, ctx, runs: dict, con) -> list[str]:
        path = os.path.join(ctx.data, "corpus.txt")
        return oracle.check_wiki(runs, con, text.parse_wiki_lines(io.read_text_corpus(ctx.spark, path)))


# --- star_analytics and query_floor ------------------------------------------------


class _Queries:
    """A workload that is a list of registered queries, each run from the
    call into its function to the end of its ``collect``."""

    names: list[str] = []
    warmup = 0  # untimed passes between set-up and the timed passes

    def order(self, ctx) -> list[str]:
        return list(self.names)

    def ops(self, ctx):
        t = ctx.tracer
        fns = registry.spark_queries()

        def run(name):
            def op():
                with t.span(name, "queries"):
                    df = fns[name](ctx.spark, ctx.data)
                return df.columns, df.collect()

            return op

        return [(n, run(n)) for n in self.order(ctx)]

    def scanned(self) -> list[str]:
        return TABLE_NAMES

    def prefix(self, ctx) -> dict:
        t = ctx.tracer
        fns = registry.spark_queries()
        scan = 0.0
        for name in self.scanned():
            with t.span(f"scan:{name}", "sources"):
                scan += timed(lambda: force(load_table(ctx.spark, ctx.data, name)))
        build = plan = 0.0
        for name in self.order(ctx):
            with t.span(f"build:{name}", "queries"):
                t0 = time.perf_counter()
                df = fns[name](ctx.spark, ctx.data)
                build += time.perf_counter() - t0
            with t.span(f"plan:{name}", "plans"):
                plan += timed(lambda: executed_plan(df, run=False))
            ranks.unpersist_all()
        return {"sources.scan_s": scan, "queries.build_s": build, "plans.plan_s": plan}

    def check(self, ctx, runs: dict, con) -> list[str]:
        return oracle.check_queries(runs, con, registry.oracle_queries())


class StarAnalytics(_Queries):
    name = "star_analytics"
    item = "fact row read"
    # pass times keep falling for a few passes after the first (JIT of
    # the scan/aggregate code on millions of rows)
    warmup = 2
    names = [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_region_revenue",
        "window_rank_orders",
        "events_hourly_rollup",
    ]
    # fact rows each query scans (lineitem / orders / events)
    _facts = {
        "q1_pricing_summary": ["lineitem"],
        "q3_shipping_priority": ["lineitem", "orders"],
        "q5_region_revenue": ["lineitem", "orders"],
        "window_rank_orders": ["orders"],
        "events_hourly_rollup": ["events"],
    }

    def items(self, props: dict) -> int:
        rows = {k: v["rows"] for k, v in props["tables"].items()}
        return sum(rows[f] for n in self.names for f in self._facts[n])

    def scanned(self) -> list[str]:
        return ["lineitem", "orders", "events"]


class QueryFloor(_Queries):
    name = "query_floor"
    item = "query"
    # the first warm passes are still 20-30% slower than the later ones
    warmup = 1
    # One oracle-bearing query from each of 16 query modules: the 13 whose
    # cheapest such query takes at most ~0.35 s warm on 4 cores at this
    # size, so the per-query fixed cost is most of its time, plus the two
    # eager ones (construction runs jobs) and the Structured Streaming one;
    # all are timed whole. Per module it is the cheapest query without a
    # floating-point output column (a float result can differ from its
    # oracle in the last bit on some inputs). The other 21 modules are left
    # out so that a pass is short enough for several timed passes per run.
    names = [
        "agg_collect_sets",  # advanced
        "events_funnel",  # analytics
        "dedup_exact",  # dedup
        "embedding_int8_quantize",  # embedding
        "ml_eval_wer",  # generation (eager)
        "orders_merkle_segments",  # opsevents
        "privacy_k_anonymity",  # privacy
        "curation_source_cap",  # profiling
        "join_anti_idle_customers",  # relational
        "sample_split_assign",  # sampling
        "asof_join_next_click",  # sequence
        "stats_cochran_armitage_trend",  # statsrank
        "streaming_session_window",  # streaming (Structured Streaming)
        "text_bpe_tokenize",  # text (eager)
        "corpus_snapshot_diff",  # textcorpus
        "corpus_doc_count",  # tfidf
    ]

    def order(self, ctx) -> list[str]:
        names = list(self.names)
        random.Random(ctx.seed).shuffle(names)
        return names

    def items(self, props: dict) -> int:
        return len(self.names)


WORKLOADS = {w.name: w for w in (WikiCorpus(), StarAnalytics(), QueryFloor())}


def reset_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work, exist_ok=True)
