"""Input-parallelism guard for heavy per-row operator pipelines.

The driver parquet fixtures are single-row-group files, and a Parquet
scan cannot split below row-group granularity — so any expensive
per-row chain (shingle explode + md5, vector banding, codec work)
that Catalyst fuses into the scan stage runs in ONE task no matter how
many cores the session has (guide §2.5: "one huge unsplittable file —
repartition immediately after the read").

``ensure_min_parallelism`` is the operator-side guard: identity
whenever the input already has at least ``defaultParallelism``
partitions (every production multi-file/multi-row-group layout), a
cheap round-robin repartition otherwise. Distinct from
``sources.tables._balance_scan`` (registration-time, fact tables
only): operators whose per-input-row work is orders of magnitude above
a scan's apply this regardless of input *size* — a 0.5 MB document
table still fans out to thousands of shingle-hash rows per document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def collapse_barrier(df: DataFrame, keep: tuple = ()) -> DataFrame:
    """Projection-collapse / predicate-pushdown boundary with no
    shuffle: re-emit every column through a single-element ``inline``
    Generate. Downstream expressions then reference plain attributes
    instead of inlining this DataFrame's expression trees — the lever
    against two optimizer pathologies on *derived* (expression-heavy)
    inputs: multiplicative expression blowup past janino's 64 KB
    method limit (a doomed, uncached ~1 s compile attempt on every
    execution before the interpreted fallback), and expensive
    predicates being substituted+pushed into a single-task scan stage.
    Costs one struct per row; safe at any scale.

    ``keep``: columns passed through OUTSIDE the Generate. A Generate
    output is a fresh attribute, so any hash partitioning established
    on the original column is no longer recognized downstream — keeping
    a join/group key out of the struct preserves partitioning reuse
    (measured: way_assembly's reassembly aggregate re-uses the
    ways-build exchange again, 3 Exchanges -> 2, ~0.1 s). Predicates
    referencing ONLY kept columns can still push below the barrier —
    keep keys, not the expensive derived columns. A ``keep`` name that
    is not a column of ``df`` raises ``ValueError``.
    """
    from pyspark.sql import functions as F

    missing = [c for c in keep if c not in df.columns]
    if missing:
        raise ValueError(f"collapse_barrier keep columns not in df: {missing}")
    keepc = [c for c in df.columns if c in keep]
    rest = [c for c in df.columns if c not in keep]
    if not rest:
        return df
    out = df.select(
        *keepc, F.inline(F.array(F.struct(*[F.col(c) for c in rest])))
    )
    return out.select(*df.columns)


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """``df`` unchanged when it already has at least
    ``defaultParallelism`` partitions, else round-robin repartitioned
    to that many (see the module docstring).

    PRECONDITION: ``df`` is a scan-only plan — scans plus narrow
    operators (filter, project, union), no Exchange. The partition
    count comes from ``df.rdd.getNumPartitions()``; on a plan with an
    exchange, AQE materializes the upstream shuffle stages to finalize
    the plan, so the probe itself would run jobs. Apply it right after
    the read, before any join or aggregate. Under Spark Connect (no
    RDD access) it returns ``df`` as-is.
    """
    spark = df.sparkSession
    try:
        parts = df.rdd.getNumPartitions()
        cores = spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no RDD access — leave as-is
        return df
    if parts >= cores:
        return df
    return df.repartition(cores)
