"""Regression pins for the r4 review findings: NULL-strata temperature
sampling, NULL-text PII gates, Unicode lowercase offset safety in
winnowing, the minhash hot-set fallback, and span-removal text
exposure."""

from __future__ import annotations

import json

import pytest

from lovdata_pipeline_spark.operators import dedup, textstats
from lovdata_pipeline_spark.operators.sampling import temperature_sample


def test_temperature_sample_null_strata_and_empty_frame(spark):
    """NULL strata are dropped (no count-derived rate), not a crash;
    an empty frame returns empty instead of ValueError."""
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, "b")], "k long, dom string"
    )
    got = {r.k for r in temperature_sample(df, "dom", "k", seed="s").collect()}
    assert 2 not in got
    assert got  # non-NULL strata still sampled
    empty = spark.createDataFrame([], "k long, dom string")
    assert temperature_sample(empty, "dom", "k").count() == 0


def test_curate_pii_gate_keeps_null_text(spark, tmp_path, capsys):
    from lovdata_pipeline_spark.cli import main

    src = tmp_path / "docs"
    spark.createDataFrame(
        [(1, None, "web"), (2, "reach me: a@b.com", "web"), (3, "clean", "web")],
        "doc_id long, text string, source string",
    ).write.parquet(str(src))
    out = tmp_path / "out"
    rc = main(["curate", "--input", str(src), "--output", str(out), "--seq-len", "0"])
    assert rc == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["stages"]
    assert st["after_pii"] == 2  # only the real PII row dropped, not the NULL
    assert {r.doc_id for r in spark.read.parquet(str(out)).collect()} == {1, 3}


def test_winnowing_offsets_survive_expanding_lowercase(spark):
    """'İ' (U+0130) lowercases to two codepoints; positions must keep
    referencing the ORIGINAL text so span removal cuts the real span."""
    dup = "the quick brown fox jumps over the lazy dog again and again"
    a = f"İİİ prefix before {dup} and a unique tail here"
    b = f"completely different opening text {dup} closing words differ"
    docs = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    spans = dedup.shared_span_pairs(docs, k=25, w=8, min_anchors=3)
    cleaned = {
        r.doc_id: r
        for r in dedup.remove_duplicated_spans(docs, spans, keep_text=True).collect()
    }
    # doc 2 (higher id) loses the duplicated passage; the cut region must
    # actually cover the shared text, i.e. the clean text no longer
    # contains the full dup passage but keeps its unique frame
    assert cleaned[2].n_cut_regions == 1
    assert dup not in cleaned[2].clean_text
    assert cleaned[2].clean_text.startswith("completely different opening")
    assert cleaned[2].clean_text.endswith("closing words differ")
    # the canonical copy (doc 1, with the expanding codepoints) is untouched
    assert cleaned[1].n_cut_regions == 0
    assert cleaned[1].clean_text == a

    # anchors reference original-text offsets: every k-gram start fits
    for r in textstats.winnowing_anchors(docs, k=25, w=8).collect():
        text = a if r.doc_id == 1 else b
        assert 1 <= r.pos <= len(text) - 25 + 1


def test_minhash_hot_set_lazy_anti_join_matches_driver_rows_path(spark, monkeypatch):
    """Forcing the over-bound hot set (anti-join against the lazy hot
    frame instead of its broadcast driver rows) must produce the
    identical pair set. df_cap=0.01 makes the hot set non-empty on this
    table (45 shingles in more than 5 of 500 documents; none pass a
    0.05 cap, which would compare the no-join path with itself)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = sorted(
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.8, df_cap=0.01).collect()
    )
    monkeypatch.setenv("SPARK_GRAFT_MAX_BROADCAST_ROWS", "0")
    with pytest.warns(RuntimeWarning, match="rarity contract"):
        via_join = sorted(
            (r.doc_a, r.doc_b)
            for r in dedup.minhash_lsh_pairs(docs, threshold=0.8, df_cap=0.01).collect()
        )
    assert via_join == base


def test_remove_spans_keep_text_flag(spark):
    docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    spans = spark.createDataFrame(
        [], "doc_a long, doc_b long, a_start long, a_end long, b_start long, b_end long"
    )
    slim = dedup.remove_duplicated_spans(docs, spans)
    full = dedup.remove_duplicated_spans(docs, spans, keep_text=True)
    assert "clean_text" not in slim.columns
    assert full.first().clean_text == "abc"
