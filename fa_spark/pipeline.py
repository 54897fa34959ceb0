"""Pipeline composition: pages -> analysis -> dedup -> tags -> sink.

The reference's `FileAnalyzer.analyze()` fan-out
(/root/reference/src/core/analyzer.py:66-124) becomes one lazy DataFrame
chain: a single fused Arrow stage for all per-row analyzers, then exactly
one shuffle for dedup and one for tag ranking.

Sink strategy: Iceberg (`writeTo(...).append()`) when an Iceberg catalog is
configured on the session; otherwise hash-bucketed parquet with an explicit
`bucket` column — `pmod(xxhash64(url), B)` — which keeps the
partition-to-task mapping stable for lineage (the local stand-in for Iceberg
`PARTITIONED BY (bucket(B, url))`, SURVEY.md §4.2).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fa_spark.stages.analyze import with_analysis
from fa_spark.stages.dedup import exact_dedup

DEFAULT_BUCKETS = 64


@dataclass(frozen=True)
class JobConfig:
    """Job-level parameters passed explicitly (never wall-clock inside rows —
    SURVEY.md §7.3 determinism discipline)."""

    run_id: str = "run-000"
    buckets: int = DEFAULT_BUCKETS
    tag_k: int = 10


def default_session(
    app: str = "fa-spark", cores: int | None = None, shuffle_partitions: int = 32
) -> SparkSession:
    """Local session with the configs the 100-TB plan needs anyway:
    AQE (skew joins / partition coalescing), Arrow batches sized for ~50-100 KB
    html blobs (SURVEY.md §4.2 item 3)."""
    master = f"local[{cores}]" if cores else "local[*]"
    return (
        SparkSession.builder.master(master)
        .appName(app)
        # container disk is slow+noisy; shuffle/spill to tmpfs in local mode
        .config("spark.local.dir", "/dev/shm/spark-local")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom-filter join pruning (Spark 3.3+): the probe side of
        # a selective join (lineage anti-join, decontamination, near-dup
        # joins back to the corpus) gets a bloom filter built from the
        # build side, pruning rows BEFORE the shuffle — at 10^12 docs the
        # anti-join's probe side is the whole corpus, so this is the
        # difference between shuffling everything and shuffling survivors
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # joins (round 9, guide §3.1/§9): allow shuffled-hash join when a
        # side's per-partition build fits — skips the sort of the big side
        # (nation_revenue 1.9 -> 1.65 s at sf1.0). Size-based and
        # per-partition, so it is scale-adaptive, not a local[32] tune:
        # 64 MB build per partition is modest for multi-GB executors and
        # AQE falls back to sort-merge when partitions exceed it.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def bucket_col(url_col: str = "url", buckets: int = DEFAULT_BUCKETS):
    return F.pmod(F.xxhash64(url_col), F.lit(buckets)).cast("int")


def analyze_pages(pages_df: DataFrame, cfg: JobConfig = JobConfig()) -> DataFrame:
    """Full per-page analysis + exact dedup + tags + slug.

    Shuffle census (scale review): exactly ONE shuffle — the sha dedup
    window. Tag ranking is a per-row top-k over the doc's own tokens, so it
    is computed inside the fused Arrow stage (a groupBy+window+join version
    doubled the Python stage and added two shuffles — measured 2× slower).
    The html blob dies at the UDF boundary — only derived columns shuffle.
    """
    analyzed = with_analysis(pages_df).withColumn(
        "bucket", bucket_col("url", cfg.buckets)
    )
    # the canonical-election aggregate reads only (sha, url); column pruning
    # keeps the analysis UDF out of its subtree (one ArrowEvalPython in the
    # plan — tests/test_plans.py)
    deduped = exact_dedup(analyzed, key="sha", order="url")
    return deduped.withColumn("run_id", F.lit(cfg.run_id))


def write_analysis(df: DataFrame, path: str, mode: str = "append") -> None:
    """Bucketed parquet sink (Iceberg stand-in). Bucket column doubles as the
    lineage partition key."""
    df.write.mode(mode).partitionBy("bucket").parquet(path)


def summary(df: DataFrame) -> DataFrame:
    """Session-summary aggregation (reference A2/A5,
    /root/reference/src/models/analyzer.py:286-299): one partial+final agg."""
    def _sum(col):
        return F.coalesce(F.sum(col), F.lit(0))  # empty increment -> 0, not null

    return df.agg(
        F.count("*").alias("analyses"),
        _sum(
            (F.col("extract.status").isin("success", "success_lenient")).cast("long")
        ).alias("successful"),
        _sum((F.col("extract.status") == "error").cast("long")).alias("failed"),
        _sum((~F.col("is_canonical")).cast("long")).alias("duplicates"),
        _sum((F.size("sigs") > 0).cast("long")).alias("flagged"),
        _sum("html_bytes").alias("bytes_scanned"),
    )
