"""The benchmark workloads: what each runs, on which inputs, and why.

Query names are keys of ``sift_spark.queries.QUERIES``; every one has a
DuckDB twin in ``sift_spark.oracle.ORACLE`` that the run checks it
against. The lists are subsets of the operator families they stand
for, sized so that a fresh session's set-up, cold pass, steady passes
and oracle checks fit in about a minute (README.md, "Run budget").

``steady_passes`` is the least number of steady passes a run makes
(more follow while ``--seconds`` of steady time have not elapsed).
Passes within a run keep speeding up (JIT), so a run reports the mean
of a fixed number of them.
"""

from __future__ import annotations

QUERY_MIX = (
    # sift's entity and text models: corpora.synthetic and models.links
    # (wikification, counted per entity), models.text over the token/tf
    # artifacts
    "entity_counts",
    "term_idfs",
    # operators.relational
    "q1_pricing_summary",
    "asof_clicks_errors",
    # operators.events
    "events_funnel",
    # operators.dedup
    "dedup_exact",
    # operators.similarity: IVF candidate generation apart from exact
    # verification, behind the pandas-UDF boundary, served from a
    # written index
    "ivf_query_index",
)

# Queries whose job count legitimately differs between the first pass
# and later ones: ``_SERVING_INDEX_CACHE`` in sift_spark/queries.py
# keeps the written ANN index for the life of the session, and neither
# release call drops it, so only the first pass pays the index build.
FIRST_PASS_ONLY_JOBS = frozenset({"ivf_query_index", "ivfpq_query_index"})

WORKLOADS = {
    "training_pipeline": {
        "tables": ("documents",),
        # documents replicated this many times by scripts/make_scaled_sf.py
        "replicas": 2,
        "queries": ("llm_training_pipeline",),
        "steady_passes": 1,
    },
    "query_mix": {
        "tables": ("lineitem", "events", "documents", "embeddings"),
        "queries": QUERY_MIX,
        "steady_passes": 3,
    },
}
