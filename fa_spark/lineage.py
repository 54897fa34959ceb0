"""Per-partition lineage + resumable runs (reference J2 + artifact manifest,
/root/reference/src/core/artifact_guard.py:80-186 re-expressed as tables).

Layout next to the output:
  analysis/run_id=<id>/bucket=<b>/...   the analysis rows of each increment
  _lineage/processed/                   (url, sha, run_id) — the processed set
  _lineage/partitions/                  per-bucket counters per run
  _lineage/commits/<run_id>.json        THE commit point (atomic rename)

Exactly-once protocol (the parquet stand-in for an Iceberg transactional
snapshot commit):

  1. recover(): physically drop analysis/run_id=* dirs with no commit marker
     (a crashed previous attempt), so partial output never survives
  2. anti-join incoming pages against the processed set *filtered to
     committed run_ids* — uncommitted processed rows are invisible
  3. write analysis -> write processed -> write counters -> write the commit
     marker LAST via os.rename (atomic on POSIX)

A crash in any window either leaves no visible output (pre-marker) or a
fully-committed increment (post-marker); restarts are idempotent either way.
At 10^12-doc scale the processed set is huge; both sides are bucketed by
xxhash64(url) so an Iceberg storage-partitioned join avoids the shuffle.

Spark's own df.checkpoint() is NOT the mechanism — it is not durable across
applications (SURVEY.md §4.2 item 5).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import shutil
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fa_spark import schema as S


def _analysis_path(base: str) -> str:
    return os.path.join(base, "analysis")


def _processed_path(base: str) -> str:
    return os.path.join(base, "_lineage", "processed")


def _partitions_path(base: str) -> str:
    return os.path.join(base, "_lineage", "partitions")


def _commits_path(base: str) -> str:
    return os.path.join(base, "_lineage", "commits")


def list_committed(base: str) -> set[str]:
    p = _commits_path(base)
    if not os.path.isdir(p):
        return set()
    return {f[: -len(".json")] for f in os.listdir(p) if f.endswith(".json")}


def write_commit_marker(base: str, run_id: str, committed_at: dt.datetime) -> None:
    validate_run_id(run_id)
    p = _commits_path(base)
    os.makedirs(p, exist_ok=True)
    tmp = os.path.join(p, f".{run_id}.tmp")
    with open(tmp, "w") as f:
        json.dump({"run_id": run_id, "committed_at": committed_at.isoformat()}, f)
    os.rename(tmp, os.path.join(p, f"{run_id}.json"))  # atomic commit point


def _tz_aware(t: dt.datetime) -> dt.datetime:
    """Naive timestamps normalize to UTC — mixed-tz markers never raise."""
    return t if t.tzinfo is not None else t.replace(tzinfo=dt.timezone.utc)


def _commit_markers(base: str) -> list[tuple[dt.datetime, str]]:
    """(committed_at, run_id) of every commit marker, times tz-aware."""
    p = _commits_path(base)
    if not os.path.isdir(p):
        return []
    out = []
    for f in os.listdir(p):
        if not f.endswith(".json"):
            continue
        with open(os.path.join(p, f)) as fh:
            doc = json.load(fh)
        out.append(
            (_tz_aware(dt.datetime.fromisoformat(doc["committed_at"])), doc["run_id"])
        )
    return out


def list_committed_as_of(base: str, as_of: dt.datetime) -> set[str]:
    """TIME TRAVEL (round 3 — the Iceberg `AS OF TIMESTAMP` analogue on the
    parquet stand-in): run_ids whose commit marker was written at or before
    ``as_of``. Commit markers are the snapshot log, so a historical read is
    just a different committed-set filter — no data is rewritten, exactly
    like Iceberg snapshot isolation."""
    cutoff = _tz_aware(as_of)
    return {r for t, r in _commit_markers(base) if t <= cutoff}


_RUN_ID_RE = re.compile(r"^[A-Za-z0-9._\-]+$")


def validate_run_id(run_id: str) -> str:
    """Run ids become partition directory names AND commit-marker filenames;
    Spark percent-escapes special characters in partition paths (':' ->
    '%3A'), which would desynchronize the dir-name <-> committed-set
    comparison recover()/expire_runs() rely on. Restrict to a filesystem-
    and partition-safe alphabet up front."""
    if not _RUN_ID_RE.match(run_id):
        raise ValueError(
            f"run_id {run_id!r} must match [A-Za-z0-9._-]+ (it becomes a "
            "partition directory and a commit-marker filename)"
        )
    return run_id


def _purge_run_dirs(
    root: str, keep: set[str] | None = None, only: set[str] | None = None
) -> list[str]:
    """Delete run_id=<id> partition dirs under ``root``: those NOT in
    ``keep`` (recover semantics) or those IN ``only`` (expire semantics —
    never touches other runs, committed or in-flight). Dir names are
    unescaped before comparison (Spark percent-escapes partition values).
    Returns the purged ids."""
    if not os.path.isdir(root):
        return []
    purged = []
    for d in os.listdir(root):
        if not d.startswith("run_id="):
            continue
        run_id = unquote(d.split("=", 1)[1])
        doomed = (keep is not None and run_id not in keep) or (
            only is not None and run_id in only
        )
        if doomed:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
            purged.append(run_id)
    return purged


def recover(base: str) -> list[str]:
    """Drop ALL output of crashed (uncommitted) runs: the analysis
    partitions AND the _lineage/processed + _lineage/partitions rows (both
    are partitioned by run_id exactly so this physical purge is possible).
    Without the lineage purge, a crash between commit_lineage() and
    write_commit_marker() followed by a retry of the same run_id would make
    the crashed attempt's rows visible once the retry commits — processed
    double-entries and double-counted counters (round-1 ADVICE, medium).
    Returns the run_ids that were rolled back."""
    committed = list_committed(base)
    rolled = _purge_run_dirs(_analysis_path(base), committed)
    for extra in _purge_run_dirs(_processed_path(base), committed):
        if extra not in rolled:
            rolled.append(extra)
    _purge_run_dirs(_partitions_path(base), committed)
    return rolled


def read_processed(
    spark: SparkSession, base: str, as_of: dt.datetime | None = None
) -> DataFrame:
    """The committed processed set (uncommitted appends filtered out);
    ``as_of`` reads the historical snapshot (list_committed_as_of)."""
    p = _processed_path(base)
    committed = sorted(
        list_committed_as_of(base, as_of) if as_of else list_committed(base)
    )
    try:
        df = spark.read.schema(S.PROCESSED).parquet(p)
    except Exception:
        return spark.createDataFrame([], S.PROCESSED)
    if not committed:
        return spark.createDataFrame([], S.PROCESSED)
    return df.where(F.col("run_id").isin(committed))


def filter_unprocessed(pages: DataFrame, processed: DataFrame) -> DataFrame:
    """Anti-join restart primitive: only new or changed (url, sha) pass."""
    keyed = pages.withColumn("sha", F.sha2("html", 256))
    return keyed.join(processed.select("url", "sha"), ["url", "sha"], "left_anti")


def read_analysis(
    spark: SparkSession, base: str, as_of: dt.datetime | None = None
) -> DataFrame:
    """Committed analysis rows (crashed-run partitions are physically gone
    after recover(); the run_id filter also guards a concurrent writer).
    ``as_of`` gives a TIME-TRAVEL read — the state as of that commit
    timestamp (Iceberg `AS OF` analogue; snapshots are the commit markers,
    so nothing is rewritten). Expired runs (expire_runs) are physically
    purged and cannot be travelled to — same as Iceberg after
    expire_snapshots.

    Pinned partition-column types on the read: run_id is a *partition
    directory* and validate_run_id permits numeric-looking ids ('123',
    '007'), which partition-type inference would coerce to ints — aliasing
    '0123' with '123' and silently weakening the committed-set filter (same
    hazard read_lineage/read_processed fixed with explicit schemas). The
    data columns keep the inferred on-disk schema — the analysis table
    carries pipeline outputs beyond S.ANALYSIS (is_canonical, dup counts),
    so hardcoding a column list here would silently drop them."""
    path = _analysis_path(base)
    inferred = spark.read.parquet(path).schema
    pinned = T.StructType(
        [
            T.StructField("run_id", T.StringType())
            if f.name == "run_id"
            else (
                T.StructField("bucket", T.IntegerType())
                if f.name == "bucket"
                else f
            )
            for f in inferred.fields
        ]
    )
    df = spark.read.schema(pinned).parquet(path)
    committed = sorted(
        list_committed_as_of(base, as_of) if as_of else list_committed(base)
    )
    return df.where(F.col("run_id").isin(committed)) if committed else df.limit(0)


def commit_lineage(
    analysis: DataFrame,
    base: str,
    run_id: str,
    committed_at: dt.datetime,
    attempt: int = 1,
) -> None:
    """Append processed-set rows and per-bucket counters, PARTITIONED BY
    run_id — recover() physically drops uncommitted attempts' partitions, so
    a crashed append can never become visible through a later retry of the
    same run_id. ``committed_at`` is a job parameter, never wall clock read
    inside the job (SURVEY.md §7.3).

    The counters are written first and the processed set last: a cached
    ``analysis`` built through filter_unprocessed reads _lineage/processed,
    so appending there makes Spark re-cache it by path, and any later
    action on it would re-run the analysis. recover() purges both
    directories per run_id, so exactly-once does not depend on the order."""
    from fa_spark.stages.multimodal import STUB_CONTAINER_TYPES

    # stub accounting (round 5, VERDICT r4 #6): rows the multimodal tier
    # would mark decode_status=stubbed — recognized container, no pure-
    # Python codec. riff counts only for non-WAVE forms (WAVE decodes for
    # real); extract_metadata surfaces the form type as meta['riff:format'].
    ct = F.col("sniff.content_type")
    # riff is non-stub for WAVE (decode_wav) and for Motion-JPEG AVI
    # (decode_avi_mjpeg, round 5) — both decode for real
    non_stub_riff = (ct == "riff") & (
        (F.coalesce(F.col("meta").getItem("riff:format"), F.lit("")) == "WAVE")
        | F.upper(
            F.trim(F.coalesce(F.col("meta").getItem("avi:codec"), F.lit("")))
        ).isin("MJPG", "MJPEG")
    )
    # ogg is stubbed only for non-Vorbis codecs — Vorbis payloads decode
    # for real (round 5, pure.decode_vorbis); the codec id comes from the
    # envelope walk (meta['ogg:codec'])
    non_stub_ogg = (ct == "ogg") & (
        F.coalesce(F.col("meta").getItem("ogg:codec"), F.lit("")) == "vorbis"
    )
    # mp4 is non-stub when ANY trak carries an MJPEG sample entry
    # (round 5, decode_mp4_mjpeg; mp4:codecs lists every trak's fourcc)
    non_stub_mp4 = (ct == "mp4") & F.arrays_overlap(
        F.split(
            F.coalesce(F.col("meta").getItem("mp4:codecs"), F.lit("")), ","
        ),
        F.array(F.lit("jpeg"), F.lit("mjpa")),
    )
    # mp3 is non-stub when every frame sits inside decode_mp3's documented
    # subset (round 6, pure.decode_mp3; the envelope walk publishes the
    # side-info verdict as meta['mp3:l3_subset'] so this stays in sync
    # with the stage's decode gate without re-decoding here)
    non_stub_mp3 = (ct == "mp3") & (
        F.coalesce(F.col("meta").getItem("mp3:l3_subset"), F.lit("")) == "1"
    )
    # mpeg (MPEG-1 video elementary stream) is non-stub when the envelope
    # walk verdicts the stream inside decode_mpeg1's I+P subset
    # (round 6, meta['mpeg:ip_subset'] — same shared-gate pattern; B/D
    # pictures keep the stream stubbed)
    non_stub_mpeg = (ct == "mpeg") & (
        F.coalesce(F.col("meta").getItem("mpeg:ip_subset"), F.lit("")) == "1"
    )
    # webp is non-stub for lossless (VP8L) payloads — real decode as of
    # round 8 (pure.decode_webp_lossless); lossy/extended stay stubbed
    non_stub_webp = (ct == "webp") & (
        (
            F.coalesce(F.col("meta").getItem("webp:format"), F.lit(""))
            == "lossless"
        )
        | (
            F.coalesce(F.col("meta").getItem("webp:has_vp8l"), F.lit(""))
            == "1"
        )
    )
    stub_ct = F.when(
        ct.isin(*STUB_CONTAINER_TYPES)
        & ~non_stub_riff & ~non_stub_ogg & ~non_stub_mp4 & ~non_stub_mp3
        & ~non_stub_mpeg & ~non_stub_webp,
        ct,
    )
    # two-level agg: (bucket, stub type) partial-aggregates map-side, then
    # the tiny per-bucket rollup folds the breakdown into one map column —
    # no collect_list over raw rows, scale-safe at any bucket size
    pre = analysis.groupBy("bucket", stub_ct.alias("_stub_ct")).agg(
        F.count("*").alias("_n"),
        F.sum((F.col("extract.status") != "error").cast("long")).alias("_ok"),
        F.sum("html_bytes").alias("_b"),
    )
    is_stub = F.col("_stub_ct").isNotNull()
    counters = (
        pre.groupBy("bucket")
        .agg(
            F.sum("_n").alias("input_rows"),
            F.sum("_ok").alias("output_rows"),
            F.sum("_b").alias("bytes"),
            F.coalesce(
                F.sum(F.when(is_stub, F.col("_n"))), F.lit(0)
            ).alias("stubbed_rows"),
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(
                        F.when(is_stub, F.struct("_stub_ct", "_n"))
                    )
                )
            ).alias("stubbed_types"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("bucket").cast("int"),
            "input_rows",
            "output_rows",
            "bytes",
            "stubbed_rows",
            "stubbed_types",
            F.lit(attempt).cast("int").alias("attempt"),
            F.lit(committed_at).alias("committed_at"),
        )
    )
    counters.write.mode("append").partitionBy("run_id").parquet(
        _partitions_path(base)
    )
    analysis.select("url", "sha", F.lit(run_id).alias("run_id")).write.mode(
        "append"
    ).partitionBy("run_id").parquet(_processed_path(base))


def read_lineage(spark: SparkSession, base: str) -> DataFrame:
    # explicit schema: partition-column inference would type a numeric-
    # looking run_id dir name as INT and break the committed-set filter
    df = spark.read.schema(S.LINEAGE).parquet(_partitions_path(base))
    committed = sorted(list_committed(base))
    return df.where(F.col("run_id").isin(committed)) if committed else df.limit(0)


def expire_runs(
    base: str,
    keep_last_n: int | None = None,
    older_than: dt.datetime | None = None,
) -> list[str]:
    """Retention GC (reference artifact retention policy,
    /root/reference/src/core/artifact_guard.py:519-588): drop the analysis
    output, lineage rows, and commit markers of expired runs. A run expires
    when it falls outside the newest ``keep_last_n`` commits (by commit
    time, ties by run_id) or its commit time is before ``older_than``.
    Expired urls leave the processed set — re-submitting those pages
    re-processes them, the standard artifact-retention trade. Surviving
    runs keep exactly-once semantics (pytest: expire -> resume)."""
    commits = sorted(_commit_markers(base))
    expired: list[str] = []
    if keep_last_n is not None and len(commits) > keep_last_n:
        expired.extend(r for _, r in commits[: len(commits) - keep_last_n])
    if older_than is not None:
        cutoff = _tz_aware(older_than)
        expired.extend(r for t, r in commits if t < cutoff)
    expired_set = set(expired)
    if not expired_set:
        return []
    # purge ONLY the expired runs — never "everything else": a concurrent
    # in-flight (uncommitted) run's partial output belongs to its writer's
    # recover(), not to this ops entry point
    _purge_run_dirs(_analysis_path(base), only=expired_set)
    _purge_run_dirs(_processed_path(base), only=expired_set)
    _purge_run_dirs(_partitions_path(base), only=expired_set)
    for r in sorted(expired_set):  # markers last: crash mid-purge re-expires
        try:
            os.remove(os.path.join(_commits_path(base), f"{r}.json"))
        except FileNotFoundError:
            pass
    return sorted(expired_set)


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    base: str,
    run_id: str,
    committed_at: dt.datetime,
    cfg=None,
) -> DataFrame:
    """One resumable increment: recover -> filter -> analyze -> write ->
    commit. Returns the increment's (no longer cached) analysis DataFrame —
    re-evaluating it re-runs the pipeline; read committed results back via
    read_analysis. Re-running with identical input is a no-op."""
    from fa_spark.pipeline import JobConfig, analyze_pages

    validate_run_id(run_id)
    cfg = cfg or JobConfig(run_id=run_id)
    recover(base)
    processed = read_processed(spark, base)
    todo = filter_unprocessed(pages, processed).drop("sha")
    analysis = analyze_pages(todo, cfg)
    analysis = analysis.persist()
    n = analysis.count()
    if n:
        analysis.write.mode("append").partitionBy("run_id", "bucket").parquet(
            _analysis_path(base)
        )
        commit_lineage(analysis, base, run_id, committed_at)
        write_commit_marker(base, run_id, committed_at)
    analysis.unpersist()
    return analysis
