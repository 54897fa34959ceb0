"""Fused per-page analysis stage.

The reference runs its analyzers sequentially as separate subprocess stages
(metadata → duplicates → ocr → virus → search → binary → vision,
/root/reference/src/core/analyzer.py:94-119). Here all per-row analyzers are
ONE Arrow-batched pass: decode each page's bytes once, derive every column
family (sniff, meta, extract, sigs, fingerprints, quality) from that single
decode. Inter-stage independence (SURVEY.md §3.2) is what makes the fusion
legal; the only operators needing a shuffle (dedup, tags) stay outside.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructType

from fa_spark import pure
from fa_spark import schema as S
from fa_spark.stages import row_udf

# compiled once per Python worker process
_COMPILED_SIGS = pure.compile_signatures()

_ANALYSIS_FIELDS = [
    "sniff", "meta", "extract", "sigs", "simhash", "minhash", "quality",
    "detected_lang", "n_tokens_ws", "n_tokens_bpe", "tags", "slug",
]

ANALYSIS_STRUCT = StructType(
    [
        S.ANALYSIS["sniff"],
        S.ANALYSIS["meta"],
        S.ANALYSIS["extract"],
        S.ANALYSIS["sigs"],
        S.ANALYSIS["simhash"],
        S.ANALYSIS["minhash"],
        S.ANALYSIS["quality"],
        S.ANALYSIS["detected_lang"],
        S.ANALYSIS["n_tokens_ws"],
        S.ANALYSIS["n_tokens_bpe"],
        S.ANALYSIS["tags"],
        S.ANALYSIS["slug"],
    ]
)

_SIGNED64_MASK = (1 << 64) - 1


def _to_i64(x: int) -> int:
    """Fold an unsigned 64-bit value into Spark's signed LongType."""
    x &= _SIGNED64_MASK
    return x - (1 << 64) if x >= (1 << 63) else x


MINHASH_K = 64


def analyze_batch(html: pd.Series) -> pd.DataFrame:
    """One Arrow batch of raw page bytes -> full analysis columns.

    Delegates to pure.analyze_document — ONE decode + ONE DOM parse + ONE
    tokenization per page shared by all analyzers (field-for-field identical
    to the individual pure functions; the two-parse/four-tokenize version
    measured ~40% slower)."""
    out: dict[str, list] = {f: [] for f in _ANALYSIS_FIELDS}
    # simhash is deferred and computed for the whole batch in one reduceat
    # pass (pure._simhash_toks_batch) — bit-identical, ~4x cheaper than
    # per-doc numpy setup
    sim_toks: list[list] = []
    mh_windows: list = []
    for data in html:
        b = bytes(data) if data is not None else b""
        d = pure.analyze_document(
            b, MINHASH_K, skip_simhash=True, skip_minhash=True
        )
        sn = d["sniff"]
        out["sniff"].append(
            {
                "content_type": sn["content_type"],
                "charset": sn["charset"],
                "embedded": [
                    {"offset": off, "kind": kind} for off, kind in sn["embedded"]
                ],
                "interesting": sn["interesting"],
            }
        )
        out["meta"].append(d["meta"])
        ex = d["extract"]
        out["extract"].append(
            {
                "text": ex.text,
                "doc_type": ex.doc_type,
                "status": ex.status,
                "attempts": ex.attempts,
                "title": ex.title,
                "description": ex.description,
            }
        )
        text = ex.text
        out["sigs"].append(pure.scan_text(text, _COMPILED_SIGS) if text else [])
        sim_toks.append(d["toks"] if text else [])
        mh_windows.append(d["mh_windows"])
        out["quality"].append(d["quality"])
        out["detected_lang"].append(d["detected_lang"])
        ws, bpe = d["token_count"]
        out["n_tokens_ws"].append(ws)
        out["n_tokens_bpe"].append(bpe)
        # tag ranking (reference A1) is top-k of ONE doc's token counts —
        # a per-row op, so it lives here, not behind a groupBy shuffle
        out["tags"].append(d["tags"][:10])
        out["slug"].append(d["slug"])
    # minhash, like simhash, is computed for the whole batch in one
    # reduceat pass (pure._minhash_windows_batch, round 7 — bit-identical,
    # drops the per-doc (seeds, windows) broadcast setup); empty-text
    # docs keep the per-doc form's [] signature
    out["minhash"] = [
        [] if sig is None else sig
        for sig in pure._minhash_windows_batch(
            mh_windows, MINHASH_K, signed=True
        )
    ]
    out["simhash"] = [_to_i64(s) for s in pure._simhash_toks_batch(sim_toks)]
    return pd.DataFrame(out)


page_analysis = F.pandas_udf(analyze_batch, ANALYSIS_STRUCT)


# Extract-only fused pass (round 9, guide §1.2 "don't compute things you
# throw away"): the extract-shaped queries (extract_synth, pdf_extract)
# consume ONLY extract.* (+ sniff.content_type) but previously ran the full
# fused analyzer — signatures, tags, quality, language, token counts and the
# whole analysis struct crossed Arrow just to be projected away (measured
# 348 µs/doc full vs 64 µs/doc extract-only on the synth-page fixture).
# Shares pure._extract_with_ctx with analyze_document, so the extract
# semantics are one code path (pinned by tests/test_pure.py).
EXTRACT_STRUCT = StructType(
    [
        S.ANALYSIS["extract"].dataType["text"],
        S.ANALYSIS["extract"].dataType["doc_type"],
        S.ANALYSIS["extract"].dataType["status"],
        S.ANALYSIS["extract"].dataType["title"],
        S.ANALYSIS["extract"].dataType["description"],
        S.ANALYSIS["sniff"].dataType["content_type"],
    ]
)


def extract_batch(html: pd.Series) -> pd.DataFrame:
    cols: dict[str, list] = {
        "text": [], "doc_type": [], "status": [], "title": [],
        "description": [], "content_type": [],
    }
    for data in html:
        b = bytes(data) if data is not None else b""
        sn, ex, _ctx = pure._extract_with_ctx(b)
        cols["text"].append(ex.text)
        cols["doc_type"].append(ex.doc_type)
        cols["status"].append(ex.status)
        cols["title"].append(ex.title)
        cols["description"].append(ex.description)
        cols["content_type"].append(sn["content_type"])
    return pd.DataFrame(cols)


page_extract = F.pandas_udf(extract_batch, EXTRACT_STRUCT)


def _minhash_batch(text: pd.Series) -> pd.Series:
    # one flat reduceat pass for the whole Arrow batch (round 7) —
    # bit-identical to per-doc minhash_signature: the per-seed min is
    # invariant to the dedup _shingle_ids would do
    windows = [
        pure._shingle_windows(pure.tokenize(t), 5) if t else None
        for t in text
    ]
    return pd.Series(
        [
            [] if sig is None else sig
            for sig in pure._minhash_windows_batch(windows, signed=True)
        ]
    )


FP_FULL_MAX_TOKENS = 8192  # docs past this are excluded (symmetric in SQL)

# standalone fingerprint UDFs for text that is already extracted
# (DataType objects, not DDL strings — string parsing needs a live session).
# minhash stays a pandas UDF for its whole-batch reduceat pass; the others
# compute one value per row, so Spark's Arrow row UDF does the batching.
minhash_udf = F.pandas_udf(_minhash_batch, ArrayType(LongType()))


@row_udf(LongType())
def simhash_udf(text):
    return _to_i64(pure.simhash64(text)) if text else 0


@row_udf(ArrayType(LongType()))
def fingerprint_udf(text):
    return [_to_i64(h) for h in pure.rolling_fingerprint(text)] if text else []


@row_udf(ArrayType(LongType()))
def fingerprint_full_udf(text):
    """Dense variant: keep EVERY 8-token window hash (keep_mod=1), distinct.
    The shared-count between two docs then equals their shared distinct
    8-gram count — exactly recomputable in SQL (the correctness hook the
    sparse winnowing form cannot offer). The sparse form (keep_mod=16)
    remains the 100-TB scale path. The cap matches FP_FULL_MAX_TOKENS so the
    'shared == exact' invariant never silently truncates; the query bounds
    its universe to that token count on BOTH engines."""
    if not text:
        return []
    hs = pure.rolling_fingerprint(
        text, window=8, keep_mod=1, cap=FP_FULL_MAX_TOKENS
    )
    return list(dict.fromkeys(_to_i64(h) for h in hs))


def content_pages(pages_df):
    """Resolve each page's analyzable content bytes into ``html``.

    Rows with NULL html but non-empty ``text`` (WET conversion records —
    already-extracted text, sources.read_warc) analyze the encoded text
    instead: same fused pass, and sha/html_bytes follow the same bytes, so
    WET documents flow through the pipeline rather than vanishing as
    empty (round-4 review: the text column was otherwise never consumed)."""
    if "text" in pages_df.columns:
        # isNotNull FIRST: the common (html-bearing) case short-circuits
        # without touching the text column — the isNull-first form
        # evaluated the text predicate on every row (~6% of the whole
        # extraction job, measured in-session)
        content = F.when(F.col("html").isNotNull(), F.col("html")).otherwise(
            F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")
        )
        pages_df = pages_df.withColumn("html", content)
    return pages_df


def with_analysis(pages_df):
    """pages(url, warc_ts, html, ...) -> flat analysis DataFrame.

    ``sha`` and ``html_bytes`` stay JVM-side (native sha2/length — no reason
    to pay the Arrow transfer for them); everything needing the decoded DOM
    rides the fused UDF. ``html`` is projected away immediately after the UDF
    stage (SURVEY.md §7.3 hard part 4 — never carry the blob further).
    """
    pages_df = content_pages(pages_df)
    return (
        pages_df.withColumn("a", page_analysis("html"))
        .select(
            "url",
            "warc_ts",
            "lang",
            F.col("a.sniff").alias("sniff"),
            F.col("a.meta").alias("meta"),
            F.col("a.extract").alias("extract"),
            F.col("a.sigs").alias("sigs"),
            F.sha2("html", 256).alias("sha"),
            F.col("a.simhash").alias("simhash"),
            F.col("a.minhash").alias("minhash"),
            F.col("a.quality").alias("quality"),
            F.col("a.detected_lang").alias("detected_lang"),
            F.col("a.n_tokens_ws").alias("n_tokens_ws"),
            F.col("a.n_tokens_bpe").alias("n_tokens_bpe"),
            F.col("a.tags").alias("tags"),
            F.col("a.slug").alias("slug"),
            # cast: length() is int, the declared schema (S.ANALYSIS)
            # says bigint — found by the round-4 validate_analysis stage
            F.length("html").cast("long").alias("html_bytes"),
        )
    )
