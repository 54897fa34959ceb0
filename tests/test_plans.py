"""Physical-plan property assertions — the PLANS.md claims as tests, so a
regression in pushdown/pruning/broadcast shape fails CI, not just an audit.
Each asserts the plan property that makes the operator survive 100x data."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_media_queries_scan_one_column(spark):
    """The decode fixtures synthesize from doc_id alone — the parquet scan
    must read ONE column of the documents table, not all five (column
    pruning through the row-UDF synthesis stage)."""
    from fa_spark.queries import q_jpeg_features, q_raster_features

    for q in (q_jpeg_features, q_raster_features):
        plan = _plan(q(spark, SF))
        scans = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert scans, plan
        for s in scans:
            assert "struct<doc_id:bigint>" in s, s


def test_pricing_summary_pushes_filter(spark):
    from fa_spark.queries import REGISTRY

    plan = _plan(REGISTRY["pricing_summary"][0](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruned: no l_comment in the scan schema
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans and all("l_comment" not in s for s in scans)


def test_nation_revenue_broadcasts_dims(spark):
    from fa_spark.queries import REGISTRY

    plan = _plan(REGISTRY["nation_revenue"][0](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_flagship_blob_never_shuffled(spark, pages_df):
    """The html blob must die at the UDF boundary: no Exchange carries a
    binary column (the north_rule's no-blob-shuffle property)."""
    from fa_spark.pipeline import JobConfig, analyze_pages

    pages = pages_df.select("url", "warc_ts", "html", "text", "lang").limit(50)
    plan = _plan(analyze_pages(pages, JobConfig(run_id="plan-test")))
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "html" not in line, line
    # the dedup-stats subtree reads only (sha, url): column pruning keeps
    # the analysis UDF out of it, so the page is analyzed once
    assert plan.count("ArrowEvalPython") == 1, plan


def test_dataset_split_zero_exchange(spark):
    from fa_spark.queries import REGISTRY

    plan = _plan(REGISTRY["dataset_split"][0](spark, SF))
    assert "Exchange" not in plan


MEDIA_ROUND_TRIPS = (
    "media_plumbing", "image_features", "webp_lossless", "ico_features",
    "jpeg_features", "progressive_jpeg", "raster_features", "audio_features",
    "flac_features", "ogg_features", "mp3_features", "mp3_huff_features",
    "mp3_short_features", "mp3_mixed_features", "mp3_intensity_features",
    "mp3_ms_features", "mp2_features", "mp1_features", "wav_codec_features",
    "video_features", "mjpeg_features", "mp4_frames", "mpeg1_frames",
    "mpeg_ip_frames", "mpeg_ipb_frames", "image_ahash_dedup",
)
METADATA_WALKS = (
    "svg_meta", "warc_roundtrip", "gif_frames", "asset_meta", "docx_extract",
    "gif_composite", "caption_meta", "apng_frames", "audio_meta",
    "video_meta", "image_compare",
)


def test_round8_queries_fused_one_udf_shape(spark):
    """Every media round-trip query (one shared helper: synthesize a blob
    per document, decode it through the multimodal stage) and every
    metadata walk has the fused one-UDF plan shape: the parquet scan reads
    ONLY what the blob is made of — doc_id, plus text for the plumbing
    envelope — the blob never crosses an Exchange, and the round trip adds
    at most one shuffle. A walk's fixture and parser chain into ONE Python
    pass."""
    from fa_spark.queries import REGISTRY

    for name in MEDIA_ROUND_TRIPS + METADATA_WALKS:
        plan = _plan(REGISTRY[name][0](spark, SF))
        read = (
            "struct<doc_id:bigint,text:string>" if name == "media_plumbing"
            else "struct<doc_id:bigint>"
        )
        scans = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert scans, plan
        for s in scans:
            assert read in s, (name, s)
        for line in plan.splitlines():
            if "Exchange" in line:
                assert "content" not in line, (name, line)
        # image_ahash_dedup's two-phase election over the decoded
        # (doc_id, ahash) rows adds shuffles of its own
        if name != "image_ahash_dedup":
            assert plan.count("Exchange") <= 2, (name, plan)
        if name in METADATA_WALKS:
            assert plan.count("ArrowEvalPython") == 1, (name, plan)


def test_doc_repetition_per_row(spark):
    """The repetition metrics are one per-row projection: no shuffle, no
    window, no exploded 2-gram rows."""
    from fa_spark.queries import REGISTRY

    plan = _plan(REGISTRY["doc_repetition"][0](spark, SF))
    for op in ("Exchange", "Window", "Generate"):
        assert op not in plan, plan
