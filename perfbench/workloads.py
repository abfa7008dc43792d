"""The benchmark's workloads and the structure check run before timing.

Each workload is a fixed list of registry queries that one client runs
one after another (a closed loop). A query's layer is the engine module
that registers it, so the trace names layers by module.
"""
from __future__ import annotations

#: workload → (why it was chosen, queries in run order)
WORKLOADS: dict[str, tuple[str, tuple[str, ...]]] = {
    # The curator loop: validate, register and stream the batch, then
    # one read per read-side layer. Eager sink writes and micro-batches
    # inside the registry call, then shuffle-bound reads with no eager
    # jobs or Python workers.
    "ingest": (
        "the curator batch of validation, entity posting, sink merge and "
        "micro-batches, then join, aggregate and window reads",
        ("ingest_validate", "ingest_post_entities", "sink_merge_upsert",
         "stream_session", "flagship_q18_volume", "agg_pricing_summary",
         "join_inner_equi", "win_topk_group"),
    ),
    # No sink writes or streaming; time goes to Python/Arrow workers,
    # session index caches and the eager localCheckpoint of dedup.
    "llm_prep": (
        "Python/Arrow workers, session index caches and the eager "
        "localCheckpoint of near-duplicate detection; no sink writes",
        ("dedup_near_jaccard_capped", "text_fingerprint", "sim_ann_lsh",
         "pipeline_llm_prep", "udf_pandas_scalar_iter", "multimodal_decode"),
    ),
}

#: every layer the trace reports, named by engine module
LAYERS: tuple[str, ...] = (
    "plans.flagship", "plans.pipelines",
    "operators.aggregates", "operators.joins", "operators.windows",
    "operators.ingest", "operators.dedup", "operators.similarity",
    "operators.udfs", "operators.multimodal",
    "functions.text", "sources.scans", "streaming.ops",
)
#: layers whose queries write, so bytes left in the temp dirs are reported
WRITING_LAYERS: tuple[str, ...] = (
    "operators.ingest", "sources.scans", "streaming.ops")

_PACKAGE = "manual_data_ingest_spark."


def layer_of(fn) -> str:
    return fn.__module__.removeprefix(_PACKAGE)


def structure_errors(names, queries, oracles, slow_twins) -> list[str]:
    """Why each query cannot be benchmarked, before anything runs.

    A query must be registered, carry an oracle, live in a known layer,
    and not be the deliberately slow side of a ``slow_twins()`` pair.
    """
    errors = []
    for name in names:
        fn = queries.get(name)
        if fn is None:
            errors.append(f"{name}: not registered")
            continue
        if name not in oracles:
            errors.append(f"{name}: no oracle SQL")
        if name in slow_twins:
            errors.append(f"{name}: slow twin of {slow_twins[name]}")
        if layer_of(fn) not in LAYERS:
            errors.append(f"{name}: unknown layer {layer_of(fn)}")
    return errors
