"""The benchmark workloads: their inputs, and the calls a pass makes.

Each workload is a closed loop with one client: a pass calls its ops in
a fixed order, each op only after the previous one has finished. An op
is one call into a library layer that returns a DataFrame (the *build*),
which the runner then forces through the ``noop`` sink (the *force*).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import gen


@dataclass(frozen=True)
class Op:
    name: str
    layer: str  # "operators" (registry query), "catalog" or "clv"
    call: Callable  # (spark, inputs) -> DataFrame | None
    tables: str = "data"  # the inputs key of the parquet tables a registry query reads


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    make_inputs: Callable[[str, int, str], dict[str, str]]  # (root, seed, scale)
    ops: tuple[Op, ...]
    recall: bool = False  # traced runs check ANN recall@10 at the timed scale


def _registry(name: str, table_dir: str = "data") -> Op:
    def call(spark, inputs):
        from lakehouse_workshop_spark.operators import all_queries

        return all_queries()[name](spark, inputs[table_dir])

    return Op(name, "operators", call, table_dir)


# --- input scales ------------------------------------------------------------
# "timed" feeds the timed passes, "gate" the DuckDB oracle pass that precedes
# them (a smaller input through the same generator and replica rules, which
# DuckDB compares in seconds), "smoke" both, in the benchmark's own smoke
# test (the sf0.001 base, no replicas).
CORPUS = {"timed": (0.01, 4), "gate": (0.001, 2), "smoke": (0.001, 1)}
CUSTOMERS = {"timed": 2_000, "gate": 500, "smoke": 300}  # rows of the Summary_2011 CSV
CHANGES = {"timed": (0.01, 2), "gate": (0.001, 2), "smoke": (0.001, 1)}
CLV_GROUPS = 4  # one grouped-map fit per core of a 4-core host

# Roughly the seconds one pass of either workload takes on a 4-core host. A
# run makes round(--seconds / PASS_S) timed passes: the same count on every
# commit, so each statistic reads the same stretch of the JIT warm-up.
PASS_S = 4.0

LLM_QUERIES = ("minhash_lsh_pairs", "ann_topk_lsh", "quality_classifier_score")


def _corpus_inputs(root: str, seed: int, scale: str) -> dict[str, str]:
    return {"data": gen.build(root, "corpus", seed, *CORPUS[scale])}


def _clv_inputs(root: str, seed: int, scale: str) -> dict[str, str]:
    summary = gen.build(root, "summary", seed, 0, 1, CUSTOMERS[scale])
    return {
        "csv": os.path.join(summary, "summary_2011.csv"),
        "changes": gen.build(root, "changes", seed, *CHANGES[scale]),
    }


def _ingest(spark, inputs):
    from lakehouse_workshop_spark.clv import workshop

    workshop.ingest_summary(spark, inputs["csv"])


def _score(spark, inputs):
    from lakehouse_workshop_spark.clv import workshop

    return workshop.score_customers(spark, n_groups=CLV_GROUPS)


def _dashboard(spark, inputs):
    from lakehouse_workshop_spark.clv import workshop

    return workshop.clv_dashboard(spark)


CLV_OPS = (
    Op("ingest_summary", "catalog", _ingest),
    Op("score_customers", "clv", _score),
    Op("clv_dashboard", "clv", _dashboard),
    _registry("merge_upsert_orders", "changes"),
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "llm_curation",
            "driver-side jobs inside the query call, Arrow/mapInPandas kernels, "
            "BLAS and banded self-joins dominate",
            _corpus_inputs,
            tuple(_registry(q) for q in LLM_QUERIES),
            recall=True,
        ),
        Workload(
            "clv_pipeline",
            "catalog writes, grouped-map model fits and a MERGE over a change stream "
            "do the work; no MinHash or BLAS kernel runs",
            _clv_inputs,
            CLV_OPS,
        ),
    )
}

# Recall@10 floors at the timed scale, against exact_topk_blas.
RECALL_FLOORS = {"ann_topk_lsh": 0.5, "ivf_pq_topk": 0.6}
