"""The benchmark's workloads: named query lists over one fixed data set.

``relational`` and ``text_dedup`` split ``bench.HEADLINE`` (imported, not
copied) so their numbers connect to the ``bench.py`` history;
``stream_delta`` is the one write-heavy, per-micro-batch path.
"""

from __future__ import annotations

import os

import bench

# Copy of the fixed sf0.01 test tables (seed 42); never regenerated.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# Construction-heavy half of the headline: dedup, text, similarity.
TEXT_DEDUP = (
    "dedup_documents_exact",
    "doc_simhash",
    "ngram_jaccard_near_dups",
    "ann_cosine_top10",
    "doc_chunks",
    "corpus_curation_funnel",
    "doc_tfidf_top_terms",
    "simhash_near_dups",
    "minhash_lsh_near_dups",
    "embedding_near_dup_pairs",
    "embedding_batch_topk",
    "doc_span_excision",
)

# Execution-bound half: scans, joins, aggregates, windows.
RELATIONAL = tuple(n for n in bench.HEADLINE if n not in TEXT_DEDUP)

# foreachBatch ingest that appends to per-batch parquet postings and
# doc-length stores, compacts both, and reads them back for BM25.
STREAM_DELTA = ("streaming_lexical_ingest_check",)

# BENCHMARK.json lists text_dedup and stream_delta; relational runs from
# the same command, as the workload that bypasses their layers.
WORKLOADS = {
    "relational": RELATIONAL,
    "text_dedup": TEXT_DEDUP,
    "stream_delta": STREAM_DELTA,
}

# bench.py's host-drift sentinels (plans unchanged since round 1).
SENTINELS = tuple(bench._SENTINEL_ANCHOR_R03)


def check_continuity() -> None:
    """relational ∪ text_dedup must be exactly bench.HEADLINE."""
    if set(TEXT_DEDUP) - set(bench.HEADLINE):
        raise RuntimeError(f"not in bench.HEADLINE: {set(TEXT_DEDUP) - set(bench.HEADLINE)}")
    if sorted(RELATIONAL + TEXT_DEDUP) != sorted(bench.HEADLINE):
        raise RuntimeError("relational + text_dedup differ from bench.HEADLINE")
    if len(RELATIONAL) != 20 or len(TEXT_DEDUP) != 12:
        raise RuntimeError("bench.HEADLINE changed size; revisit the split")
