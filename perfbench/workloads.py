"""The benchmark's workloads: which queries a pass runs, at which scale.

Every query is a public builder of the package -- a ``queries.QUERIES``
registry entry or one of the building-block calls in
``bench._headline`` -- called as ``fn(spark, data_dir)`` and run
through the noop sink.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    data: str  # directory under data/ holding the tables it reads
    queries: tuple[str, ...]
    registry: bool  # names are queries.QUERIES keys, else bench._headline() slots
    # untimed passes between the output check and the timed passes: registry
    # passes kept getting faster until the session's fourth pass, training
    # passes only over the second
    warmup: int


WORKLOADS = {
    "training_sf01": Workload(
        "sf0.1",
        (
            "dedup_substring_spans", "text_quality", "text_lang_id", "text_simhash",
            "kmeans_codebook",
        ),
        False,
        0,
    ),
    "registry_sf001": Workload(
        "sf0.01",
        (
            "gufunc_matmul", "fft_monthly", "setops_suite", "compress_axis",
            "sliding_rows_2d",
        ),
        True,
        2,
    ),
}


def builders(w: Workload) -> dict:
    """name -> fn(spark, data_dir) for every query of ``w``."""
    if w.registry:
        from dask_array_spark import queries as Q

        return {n: Q.QUERIES[n] for n in w.queries}
    import bench

    slots = dict(bench._headline())
    return {n: slots[n] for n in w.queries}
