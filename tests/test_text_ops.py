"""PII scrubbing + training-window chunking operators (round 3,
stages/text.py): boundary math, overlap carry-over, typed placeholders,
and degenerate inputs."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fa_spark.stages.text import chunk_documents, scrub_pii


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_scrub_replaces_and_counts(spark):
    rows = [
        (1, "mail a.b+c@x-y.co.uk or 192.168.0.1 and +12345678901 end"),
        (2, "no pii at all here"),
        (3, "two mails a@b.io c@d.io and 1.2.3.4 10.0.0.255"),
    ]
    out = {r["doc_id"]: r for r in scrub_pii(_df(spark, rows)).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_ipv4"] == 1 and out[1]["n_phone"] == 1
    assert out[1]["scrubbed"] == "mail <EMAIL> or <IP> and <PHONE> end"
    assert out[2]["scrubbed"] == rows[1][1]
    assert out[2]["n_email"] == out[2]["n_ipv4"] == out[2]["n_phone"] == 0
    assert out[3]["n_email"] == 2 and out[3]["n_ipv4"] == 2
    assert out[3]["scrubbed"] == "two mails <EMAIL> <EMAIL> and <IP> <IP>"


def test_scrub_boundary_forms(spark):
    rows = [
        (1, "x@y.io"),                      # whole string is the match
        (2, "+1234567890"),                 # 10 digits: shortest phone
        (3, "+123456789"),                  # 9 digits: NOT a phone
        (4, "1.2.3.4567"),                  # \b stops the ipv4 at 3 digits?
    ]
    out = {r["doc_id"]: r for r in scrub_pii(_df(spark, rows)).collect()}
    assert out[1]["scrubbed"] == "<EMAIL>"
    assert out[2]["scrubbed"] == "<PHONE>"
    assert out[3]["n_phone"] == 0
    # 1.2.3.4567: the last octet regex \d{1,3} then \b fails inside 4567 ->
    # whatever the engines do, Spark and DuckDB must AGREE (oracle checks
    # cross-engine); here we just require totality + determinism
    assert out[4]["scrubbed"] == scrub_pii(_df(spark, [rows[3]])).collect()[0]["scrubbed"]


def test_chunk_exact_cover_and_overlap(spark):
    text = " ".join(f"t{i}" for i in range(100))
    rows = chunk_documents(
        _df(spark, [(1, text)]), chunk_tokens=40, overlap=10
    ).collect()
    rows.sort(key=lambda r: r["chunk_idx"])
    # stride 30: ceil((100-10)/30) = 3 chunks
    assert [r["chunk_idx"] for r in rows] == [0, 1, 2]
    assert [r["n_chunk_tokens"] for r in rows] == [40, 40, 40]
    c0, c1 = rows[0]["chunk_text"].split(), rows[1]["chunk_text"].split()
    assert c0[30:] == c1[:10]  # overlap carries the last 10 tokens over
    assert c0[0] == "t0" and rows[2]["chunk_text"].split()[-1] == "t99"


def test_chunk_short_docs_and_tail(spark):
    rows = chunk_documents(
        _df(spark, [(1, "a b c"), (2, " ".join(f"x{i}" for i in range(45)))]),
        chunk_tokens=40,
        overlap=10,
    ).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 1 and by_doc[1][0]["n_chunk_tokens"] == 3
    two = sorted(by_doc[2], key=lambda r: r["chunk_idx"])
    assert [r["n_chunk_tokens"] for r in two] == [40, 15]  # short tail kept


def test_chunk_empty_doc_omitted_and_bad_params(spark):
    assert chunk_documents(_df(spark, [(1, "")])).count() == 0
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(_df(spark, [(1, "a")]), chunk_tokens=8, overlap=8)


def test_chunk_no_shuffle_plan(spark):
    plan = (
        chunk_documents(_df(spark, [(1, "a b c")]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_quantize_embeddings_bounds(spark):
    """int8 range, error bound scale/2, zero-vector degeneracy, and the
    explicit floor(x+0.5) rule (engine round() modes never involved)."""
    from fa_spark.stages.similarity import quantize_embeddings

    rows = [
        (1, [1.0, -0.5, 0.25, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, [127.0, -127.0, 63.5, -0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    r1 = out[1]
    assert abs(r1["scale"] - 1.0 / 127) < 1e-12
    # -0.5/scale = -63.5 -> floor(-63.5 + 0.5) = -63: the tie rounds UP
    # (toward +inf), the documented floor(x+0.5) rule on both engines
    assert r1["qvec"] == [127, -63, 32, 0]
    assert all(-127 <= q <= 127 for r in out.values() for q in r["qvec"])
    for r in out.values():
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-12
    r2 = out[2]
    assert r2["scale"] == 0.0 and r2["qvec"] == [0, 0, 0, 0]


def test_quantized_topk_recall_vs_float(spark):
    """int8 quantized ranking must recover nearly all of the exact float
    top-k (quantization error is scale/2 per dim) — measure recall@5 on
    the real embeddings table."""
    from fa_spark.stages.similarity import brute_force_topk, quantized_topk
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    quant = {
        (r["query_id"], r["vec_id"])
        for r in quantized_topk(emb, queries, k=5).collect()
    }
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.9, recall


def test_duplicate_passages_spans_and_merge(spark):
    """ExactSubstr spans (round 4): planted shared passage -> exact merged
    span per doc; within-doc repetition also flags; unrelated doc clean."""
    from fa_spark.stages.text import duplicate_passages, strip_duplicate_passages

    shared = " ".join(f"tok{i}" for i in range(30))
    rows = [
        (1, "alpha beta " + shared + " gamma delta"),
        (2, "one two three " + shared + " four"),
        (3, "totally unrelated text with many different words here indeed"),
        (4, shared + " " + shared),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    spans = duplicate_passages(df, window=10)
    got = {
        (r["doc_id"], r["span_start"], r["span_end"]) for r in spans.collect()
    }
    assert got == {(1, 2, 32), (2, 3, 33), (4, 0, 60)}
    # no Python stage, no cartesian product in the plan
    plan = spans._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    clean = {
        r["doc_id"]: r for r in strip_duplicate_passages(df, spans).collect()
    }
    assert clean[1]["clean_text"] == "alpha beta gamma delta"
    assert clean[1]["n_dropped_tokens"] == 30
    assert clean[2]["clean_text"] == "one two three four"
    assert clean[3]["n_dropped_tokens"] == 0
    assert "unrelated" in clean[3]["clean_text"]
    assert clean[4]["clean_text"] == "" and clean[4]["n_dropped_tokens"] == 60


def test_duplicate_passages_stride_and_min_count(spark):
    from fa_spark.stages.text import duplicate_passages

    shared = " ".join(f"s{i}" for i in range(20))
    rows = [
        (1, shared + " filler one"),
        (2, shared + " filler two"),
        (3, shared + " filler three"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    # min_count above the multiplicity -> nothing flags
    assert duplicate_passages(df, window=10, min_count=4).count() == 0
    # stride 2 still finds the planted passage (coarser span edges allowed)
    s2 = {r["doc_id"] for r in duplicate_passages(df, window=10, stride=2).collect()}
    assert s2 == {1, 2, 3}


def test_duplicate_passages_short_docs_excluded(spark):
    from fa_spark.stages.text import duplicate_passages

    rows = [(1, "same short text"), (2, "same short text")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    # both docs are shorter than the window -> no windows, no spans
    assert duplicate_passages(df, window=10).count() == 0


def _repetition_ref(text):
    """Plain-Python Gopher repetition metrics over pure.tokenize: the most
    frequent 2-gram (tie -> smallest), its char share of the joined tokens,
    and the duplicated share of 10-gram windows. None below 2 tokens."""
    from collections import Counter

    from fa_spark import pure

    toks = pure.tokenize(text)
    if len(toks) < 2:
        return None
    grams = Counter(" ".join(toks[i:i + 2]) for i in range(len(toks) - 1))
    gram, cnt = min(grams.items(), key=lambda kv: (-kv[1], kv[0]))
    g10 = [" ".join(toks[i:i + 10]) for i in range(len(toks) - 9)]
    dup = 1 - len(set(g10)) / len(g10) if g10 else 0.0
    return gram, cnt * len(gram) / len(" ".join(toks)), dup


def _check_repetition(spark, texts):
    from fa_spark.stages.text import repetition_metrics

    df = _df(spark, list(enumerate(texts)))
    got = {r["doc_id"]: r for r in repetition_metrics(df).collect()}
    want = {i: _repetition_ref(t) for i, t in enumerate(texts)}
    assert set(got) == {i for i, w in want.items() if w is not None}
    for i, r in got.items():
        gram, top_frac, dup = want[i]
        assert r["top_2gram"] == gram, (texts[i], r)
        assert r["top_2gram_frac"] == pytest.approx(top_frac, abs=1.01e-6)
        assert r["dup_10gram_frac"] == pytest.approx(dup, abs=1.01e-6)


_VOCAB = ("b", "ab", "a9")  # 3 words: ties and repeats are the common case
_LENGTHS = (0, 1, 2, 3, 9, 10, 11, 12, 19, 20, 21, 40)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(_VOCAB), max_size=40),
        min_size=1,
        max_size=8,
    ),
    st.sampled_from((" ", ", ", " -- ", "\n")),
)
def test_repetition_matches_python_reference(spark, docs, sep):
    """repetition_metrics equals a plain-Python reference on 0-40-token
    documents over a 3-word vocabulary (so 2-gram counts tie and 10-gram
    windows repeat); every example also carries one doc of each boundary
    length, 0/1 (omitted), 2, 9/10/11 (the 10-gram edge) and 40."""
    fixed = [[_VOCAB[(i * i + n) % 3] for i in range(n)] for n in _LENGTHS]
    _check_repetition(spark, [sep.join(d).upper() for d in docs + fixed])


def test_repetition_filter_pushdown_total(spark):
    """A filter on the outputs is pushed below the per-row projection and
    so runs on 0- and 1-token rows too: it must not raise (a 1-token row
    once made sequence(1, 0) count down into slice(_, 0, _))."""
    from pyspark.sql import functions as F

    from fa_spark.stages.text import repetition_metrics

    df = _df(spark, [(0, ""), (1, "!!! ..."), (2, "word"), (3, "Word, word"),
                     (4, None), (5, "a b a b a b a b a b a b")])
    out = repetition_metrics(df).where(
        (F.col("top_2gram_frac") > 0.1) | (F.col("dup_10gram_frac") > 0.1)
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [3, 5]


def test_repetition_long_document_linear(spark):
    """One ~20k-token document matches the reference, plain and under a
    pushed-down filter. A per-window rescan of the document (the old
    explode shape, or a tokenizer inlined into a lambda) is quadratic and
    takes minutes here; the linear shape takes about a second."""
    import random
    import time

    from pyspark.sql import functions as F

    from fa_spark.stages.text import repetition_metrics

    rng = random.Random(7)
    words = [f"w{i}" for i in range(40)]
    toks = [rng.choice(words) for _ in range(18000)]
    toks += toks[:2000]  # a repeated passage: dup_10gram_frac > 0
    text = " ".join(toks)
    t0 = time.perf_counter()
    _check_repetition(spark, [text])
    df = _df(spark, [(0, text)])
    kept = repetition_metrics(df).where(F.col("dup_10gram_frac") > 0.05)
    assert [r["doc_id"] for r in kept.collect()] == [0]
    assert time.perf_counter() - t0 < 60


def test_ngram_sets_filter_pushdown_linear(spark):
    """jaccard_pairs and decontaminate filter ngram_sets on size(grams); the
    filter is pushed below the projection with the tokenizer inlined, so a
    lambda that read the token column re-tokenized the document once per
    window (quadratic: about 10 s at 8k tokens). A 30k-token document must
    stay linear and give its exact distinct 3-gram set."""
    import random
    import time

    from pyspark.sql import functions as F

    from fa_spark import pure
    from fa_spark.stages.text import ngram_sets

    rng = random.Random(11)
    text = " ".join(rng.choice([f"w{i}" for i in range(40)]) for _ in range(30000))
    toks = pure.tokenize(text)
    want = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    df = _df(spark, [(0, text), (1, "two words"), (2, "")])
    t0 = time.perf_counter()
    rows = ngram_sets(df, "doc_id", "text").where(F.size("grams") > 0).collect()
    assert time.perf_counter() - t0 < 60
    assert [r["doc_id"] for r in rows] == [0]
    assert sorted(rows[0]["grams"]) == sorted(want)
