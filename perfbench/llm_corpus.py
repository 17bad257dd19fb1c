"""``llm_corpus``: eight registered LLM-corpus batch queries.

The queries cover the stage-latency-bound operators (the 5-gram
Kneser-Ney ladder, the tf-idf stage chain, connected-components, MinHash-LSH
and substring dedup, the IVF nearest-neighbour search) and the
``mapInPandas``/Arrow path (BPE encode, PDF metadata).  The CDC layers stay
idle.

Operations are the query runs (build plus execute); the bulk step is the
summed execution time of a pass.  The untimed warm-up pass is also the
output check: each query's digest must equal its DuckDB oracle's.
"""

from __future__ import annotations

import statistics

from .querymix import QueryMix
from .tracing import EventLog
from .workload import Ctx, PassResult, Workload

QUERIES = (
    "text_5gram_kneser_ney",
    "text_tfidf_top_terms",
    "dedup_clusters",
    "dedup_minhash_lsh",
    "dedup_substring_spans",
    "similarity_ann_ivf_topk",
    "corpus_bpe_encode",
    "multimodal_pdf_meta",
)


class LlmCorpus(Workload):
    name = "llm_corpus"

    def setup(self, ctx: Ctx, parent: dict) -> None:
        self.mix = QueryMix(QUERIES)

    def warm(self, ctx: Ctx, parent: dict) -> None:
        self.mix.check(ctx, parent)

    def one_pass(self, ctx: Ctx, index: int, parent: dict) -> PassResult:
        return PassResult(*self.mix.run(ctx, index, parent))

    def layers(self, ctx: Ctx, log: EventLog) -> dict:
        passes = sorted({r["pass"] for r in self.mix.runs})

        def per_pass(attr: str) -> float:
            return statistics.median(
                sum(getattr(s, attr) for s in self.mix.summaries(log, p)) for p in passes)

        return {
            **self.mix.layers(log),
            "operators._pipe.python_s": per_pass("python_s"),
            "operators._pipe.arrow_bytes_sent": per_pass("arrow_sent"),
            "operators._pipe.arrow_bytes_returned": per_pass("arrow_returned"),
            "spark.shuffle_bytes_per_pass": per_pass("shuffle_bytes"),
            "spark.executor_run_s_per_pass": per_pass("executor_run_s"),
        }

    def report(self) -> dict:
        return {"queries": list(QUERIES)}
