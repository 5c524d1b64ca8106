"""`lg curate`: the CLI surface of the curation DAG — drives the real
command end-to-end over parquet fixtures and checks stage accounting,
output schema, and the gate semantics."""

from __future__ import annotations

import json

import pytest

from lovdata_pipeline_spark.cli import main
from tests.conftest import _pinned_ids


@pytest.fixture()
def docs_parquet(spark, tmp_path):
    rows = [
        (1, "alpha beta gamma delta epsilon", "web"),
        (2, "alpha beta gamma delta epsilon", "web"),     # exact dup of 1
        (3, "zeta eta theta iota kappa", "web"),
        (4, "contact me at bob@example.com now", "web"),  # PII
        (5, "lorem ipsum dolor sit amet", "books"),
        (6, "totally unique words here folks", "books"),
    ]
    p = tmp_path / "docs"
    spark.createDataFrame(rows, "doc_id long, text string, source string").write.parquet(
        str(p)
    )
    return str(p)


@pytest.fixture()
def bench_parquet(spark, tmp_path):
    p = tmp_path / "bench"
    spark.createDataFrame(
        [(100, "zeta eta theta of the eval set")], "doc_id long, text string"
    ).write.parquet(str(p))
    return str(p)


def test_curate_end_to_end(spark, tmp_path, docs_parquet, bench_parquet, capsys):
    out = tmp_path / "curated"
    rc = main(
        [
            "curate",
            "--input", docs_parquet,
            "--output", str(out),
            "--benchmark", bench_parquet,
            "--seq-len", "8",
        ]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    st = summary["stages"]
    assert st["input"] == 6
    assert st["after_pii"] == 5          # doc 4 dropped
    assert st["after_dedup"] == 4        # doc 2 dropped (dup of 1)
    assert st["after_decontam"] == 3     # doc 3 shares 'zeta eta theta'
    assert st["output"] == 3
    got = spark.read.parquet(str(out))
    assert {r.doc_id for r in got.collect()} == {1, 5, 6}
    for col in ("n_tokens", "quality_logit", "tok_start", "seq_start", "n_seqs"):
        assert col in got.columns, col
    # sequence assignment covers the stream contiguously in id order
    rows = sorted(got.collect(), key=lambda r: r.doc_id)
    cum = 0
    for r in rows:
        assert r.tok_start == cum
        cum += r.n_tokens


def test_curate_redact_keeps_row(spark, tmp_path, docs_parquet, capsys):
    out = tmp_path / "curated2"
    rc = main(
        ["curate", "--input", docs_parquet, "--output", str(out),
         "--pii", "redact", "--seq-len", "0"]
    )
    assert rc == 0
    got = spark.read.parquet(str(out))
    assert got.count() == 5  # dup still cut, PII doc kept but masked
    masked = got.filter("doc_id = 4").first()
    assert "[EMAIL]" in masked.text and "@" not in masked.text
    assert "tok_start" not in got.columns  # packing skipped


def test_curate_mix_and_temperature_exclusive(docs_parquet, tmp_path):
    with pytest.raises(SystemExit):
        main(
            ["curate", "--input", docs_parquet, "--output", str(tmp_path / "x"),
             "--mix", "web=1.0", "--temperature", "0.5"]
        )


def test_split_end_to_end(spark, tmp_path, docs_parquet, capsys):
    out = str(tmp_path / "split_out")
    rc = main([
        "split", "--input", docs_parquet, "--output", out,
        "--weights", "train=0.5,val=0.25,test=0.25", "--seed", "s",
    ])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sum(payload["splits"].values()) == 6
    got = spark.read.parquet(out)
    assert set(got.columns) >= {"doc_id", "split"}
    # append-stable: re-running assigns identically
    out2 = str(tmp_path / "split_out2")
    main(["split", "--input", docs_parquet, "--output", out2,
          "--weights", "train=0.5,val=0.25,test=0.25", "--seed", "s"])
    a = {r.doc_id: r.split for r in spark.read.parquet(out).collect()}
    b = {r.doc_id: r.split for r in spark.read.parquet(out2).collect()}
    assert a == b


def test_report_end_to_end(spark, tmp_path, docs_parquet, bench_parquet, capsys):
    rc = main([
        "report", "--input", docs_parquet, "--benchmark", bench_parquet,
    ])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    rows = {r["source"]: r for r in lines}
    assert set(rows) == {"web", "books"}
    assert rows["web"]["n_docs"] == 4
    assert rows["web"]["n_exact_dup"] == 1      # doc 2 duplicates doc 1
    assert rows["web"]["n_contaminated"] == 1   # doc 3 shares 3-gram with bench
    assert rows["books"]["n_exact_dup"] == 0
    for r in rows.values():
        assert 0 <= r["n_gopher_pass"] <= r["n_docs"]
        assert r["n_tokens"] > 0


def test_pack_end_to_end(spark, tmp_path, docs_parquet, capsys):
    out = str(tmp_path / "packed")
    man = str(tmp_path / "manifest")
    rc = main([
        "pack", "--input", docs_parquet, "--output", out,
        "--manifest", man, "--seq-len", "4",
    ])
    assert rc == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    seqs = spark.read.parquet(out)
    manifest = spark.read.parquet(man)
    assert payload["n_sequences"] == seqs.count() == manifest.count()
    rows = {r.seq_id: r for r in seqs.collect()}
    mrows = {r.seq_id: r for r in manifest.collect()}
    # emitter and manifest agree sequence-by-sequence
    assert {k: (v.n_docs, v.n_tokens_filled) for k, v in rows.items()} == {
        k: (v.n_docs, v.n_tokens_filled) for k, v in mrows.items()
    }
    # every interior sequence is exactly seq_len tokens of real text
    interior = [v for k, v in rows.items() if k < max(rows)]
    assert all(len(v.seq_text.split(" ")) == 4 for v in interior)


def test_analyze_end_to_end(spark, tmp_path, docs_parquet, capsys):
    out = tmp_path / "diag"
    rc = main(
        ["analyze", "--input", docs_parquet, "--output", str(out), "--keywords", "3"]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["n_docs"] == 6
    assert summary["n_keyword_groups"] == 2  # web + books
    assert sum(summary["languages"].values()) == 6
    # every fixture doc has 5-6 tokens → single log2 bucket 2 (4..7 tokens)
    assert summary["length_histogram_log2"] == {"2": 6}
    assert len(summary["top_bpe_pairs"]) == 5
    assert set(summary["vocab_drift_kl"]) == {"web", "books"}
    assert all(v >= 0 for v in summary["vocab_drift_kl"].values())
    # written tables round-trip
    kw = spark.read.parquet(str(out / "keywords"))
    assert kw.filter("rk > 3").count() == 0
    assert {r.source for r in kw.select("source").distinct().collect()} == {
        "web",
        "books",
    }
    langs = spark.read.parquet(str(out / "languages"))
    assert langs.count() == len(summary["languages"])


def test_plan_end_to_end(spark, docs_parquet, capsys):
    """`lg plan`: one JSON line per group with inventory, share and the
    uniform-mix epoch multiplier."""
    rc = main(["plan", "--input", docs_parquet])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    by_g = {r["source"]: r for r in lines}
    assert set(by_g) == {"web", "books"}
    assert by_g["web"]["n_docs"] == 4 and by_g["books"]["n_docs"] == 2
    total = sum(r["n_tokens"] for r in lines)
    for r in lines:
        assert r["natural_share"] == pytest.approx(r["n_tokens"] / total, abs=1e-6)
        assert r["epochs_uniform"] == pytest.approx(
            total / (2 * r["n_tokens"]), abs=1e-6
        )


def test_clean_end_to_end(spark, tmp_path, capsys):
    """`lg clean`: per-source boilerplate lines vanish everywhere, shared
    paragraphs survive only at their first (doc, pos) occurrence, and
    the accounting line reports both cuts."""
    p = tmp_path / "dirty"
    # HEADER is in 3/5 docs (>= ceil(0.5*5) = 3 → boilerplate, all copies
    # cut); SHARED PARA is in only 2/5 (below the threshold → survives the
    # strip, then paragraph dedup keeps just the doc-1 copy)
    rows = [
        (1, "HEADER\nfirst body\nSHARED PARA", "web"),
        (2, "HEADER\nsecond body", "web"),
        (3, "HEADER\nthird body", "web"),
        (4, "fourth body\nSHARED PARA", "web"),
        (5, "fifth body", "web"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string, source string").write.parquet(str(p))
    out = tmp_path / "cleaned"
    rc = main(
        ["clean", "--input", str(p), "--output", str(out), "--paragraph-sep", r"\n"]
    )
    assert rc == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["n_docs"] == 5 and s["lines_stripped"] == 3
    assert s["paragraphs_dropped"] == 1
    got = {r.doc_id: r.text for r in spark.read.parquet(str(out)).collect()}
    assert got[1] == "first body\nSHARED PARA"
    assert got[2] == "second body"
    assert got[3] == "third body"
    assert got[4] == "fourth body"
    assert got[5] == "fifth body"


def test_clean_releases_only_its_own_pins(spark, tmp_path):
    """`lg clean` unpersists exactly the frames it pinned (r8 VERDICT
    "What's wrong" #3): the command's own pins are gone afterwards AND a
    pre-existing unrelated cached frame survives — the old blanket
    ``spark.catalog.clearCache()`` would have evicted it. Pins compare
    against the PRE-invocation baseline because a shared full-suite
    session legitimately holds other documented caches."""
    bystander = spark.createDataFrame([(1, "x")], "k long, v string").persist()
    bystander.count()
    before = _pinned_ids(spark)
    p = tmp_path / "dirty_pins"
    spark.createDataFrame(
        [(1, "HEAD\na one", "web"), (2, "HEAD\nb two", "web"), (3, "HEAD\nc", "web")],
        "doc_id long, text string, source string",
    ).write.parquet(str(p))
    out = tmp_path / "cleaned_pins"
    rc = main(
        ["clean", "--input", str(p), "--output", str(out), "--paragraph-sep", r"\n"]
    )
    assert rc == 0
    assert not (_pinned_ids(spark) - before), "clean left its own pins cached"
    # the bystander itself must still be materialized in the cache
    assert bystander.storageLevel.useMemory
    bystander.unpersist()


def test_curate_releases_only_its_own_pins(
    spark, tmp_path, docs_parquet, bench_parquet
):
    """`lg curate` unpersists the stage frames it cached (PII, dedup,
    decontam, mix) and leaves an unrelated cached frame alone — the
    `lg clean` rule above, applied to the curation command."""
    bystander = spark.createDataFrame([(1, "x")], "k long, v string").persist()
    bystander.count()
    before = _pinned_ids(spark)
    out = tmp_path / "curated_pins"
    rc = main(
        [
            "curate",
            "--input", docs_parquet,
            "--output", str(out),
            "--benchmark", bench_parquet,
            "--mix", "web=1.0,books=1.0",
        ]
    )
    assert rc == 0
    assert not (_pinned_ids(spark) - before), "curate left its own pins cached"
    assert bystander.storageLevel.useMemory
    bystander.unpersist()


def test_analyze_null_text(spark, tmp_path, capsys):
    """NULL-text docs land in histogram bucket -1 instead of crashing the
    driver-side int(None) (r5 ADVICE: token_count_col(NULL) is NULL under
    ANSI, which the <= 0 guard alone passed through)."""
    p = tmp_path / "docs_nulls"
    spark.createDataFrame(
        [(1, "alpha beta gamma delta", "web"), (2, None, "web"), (3, "", "web")],
        "doc_id long, text string, source string",
    ).write.parquet(str(p))
    rc = main(["analyze", "--input", str(p)])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["n_docs"] == 3
    # doc 1 → bucket 2 (4 tokens); NULL and empty text → bucket -1
    assert summary["length_histogram_log2"] == {"-1": 2, "2": 1}


def test_sample_quota_and_weighted(spark, tmp_path, docs_parquet, capsys):
    out_q = tmp_path / "kept_quota"
    rc = main(
        ["sample", "--input", docs_parquet, "--output", str(out_q), "--k", "2"]
    )
    assert rc == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["mode"] == "quota" and s["n_kept"] == 4
    assert s["per_group"] == {"books": 2, "web": 2}
    kept = spark.read.parquet(str(out_q))
    assert kept.count() == 4
    assert {"doc_id", "rk", "text", "source"} <= set(kept.columns)

    out_pq = tmp_path / "kept_per_group"
    rc = main(
        ["sample", "--input", docs_parquet, "--output", str(out_pq),
         "--quotas", "web=3,books=1"]
    )
    assert rc == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["per_group"] == {"books": 1, "web": 3}

    out_w = tmp_path / "kept_weighted"
    rc = main(
        ["sample", "--input", docs_parquet, "--output", str(out_w),
         "--mode", "weighted", "--k", "1"]
    )
    assert rc == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["mode"] == "weighted" and s["per_group"] == {"books": 1, "web": 1}
    # deterministic: same seed → same draw
    out_w2 = tmp_path / "kept_weighted2"
    main(["sample", "--input", docs_parquet, "--output", str(out_w2),
          "--mode", "weighted", "--k", "1"])
    a = sorted(r.doc_id for r in spark.read.parquet(str(out_w)).collect())
    b = sorted(r.doc_id for r in spark.read.parquet(str(out_w2)).collect())
    assert a == b


def test_reduce_end_to_end(spark, tmp_path, capsys):
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.normal(size=(50, 6)) * np.array([5, 3, 1, 0.3, 0.2, 0.1])
    rows = [(i, base[i].astype("float32").tolist(), i % 3) for i in range(50)]
    src = tmp_path / "emb"
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(src))
    out = tmp_path / "reduced"
    rc = main(["reduce", "--input", str(src), "--output", str(out), "--k", "2"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["n_vecs"] == 50 and summary["n_projected"] == 50
    assert summary["k"] == 2 and 0 < summary["explained_total"] <= 1
    proj = spark.read.parquet(str(out))
    assert set(proj.columns) == {"vec_id", "label", "pca"}
    first = proj.filter("vec_id = 0").first()
    assert len(first["pca"]) == 2


def test_tokenizer_end_to_end(spark, tmp_path, capsys):
    src = tmp_path / "tokdocs"
    corpus = (
        "low low low low low lower lower "
        "newest newest newest newest newest newest widest widest widest"
    )
    spark.createDataFrame(
        [(1, corpus, "web")], "doc_id long, text string, source string"
    ).write.parquet(str(src))
    out = tmp_path / "merges"
    rc = main([
        "tokenizer", "--input", str(src), "--output", str(out), "--merges", "4",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["n_merges"] == 4
    assert summary["merges"][0] == ["e", "s", 9]
    assert summary["corpus_whitespace_tokens"] == 16
    # 16 words × avg symbol count after 4 merges < raw char count
    assert summary["corpus_bpe_tokens"] < sum(len(w) for w in corpus.split())
    merges = spark.read.parquet(str(out))
    assert merges.count() == 4


def test_clean_with_needle_surgery(spark, tmp_path, capsys):
    """`lg clean --needles`: benchmark needle occurrences are excised
    from the surviving text (span surgery, not doc drop), accounting
    reports tokens_excised/docs_contaminated, and the other cleanup
    stages still compose."""
    p = tmp_path / "dirty_s"
    rows = [
        (1, "intro words then the secret eval answer string here", "web"),
        (2, "normal document with ordinary content only", "web"),
        (3, "the secret eval answer string here and more trailing text", "web"),
        (4, "the secret eval answer string here", "web"),  # whole doc = leak
    ]
    spark.createDataFrame(rows, "doc_id long, text string, source string").write.parquet(str(p))
    ndl = tmp_path / "needles"
    spark.createDataFrame(
        [(100, "the secret eval answer string here")], "doc_id long, text string"
    ).write.parquet(str(ndl))
    out = tmp_path / "surgered"
    rc = main(
        [
            "clean", "--input", str(p), "--output", str(out),
            "--no-boilerplate", "--no-paragraph-dedup",
            "--needles", str(ndl),
        ]
    )
    assert rc == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["n_docs"] == 4
    assert s["docs_contaminated"] == 3 and s["tokens_excised"] == 18
    got = {r.doc_id: r for r in spark.read.parquet(str(out)).collect()}
    assert got[1].text == "intro words then"
    assert got[2].text == "normal document with ordinary content only"
    assert got[3].text == "and more trailing text"
    assert got[4].text == ""
    assert got[4].n_needles_hit == 1 and got[2].n_needles_hit == 0


def test_clean_surgery_composes_with_strip(spark, tmp_path, capsys):
    """Surgery after boilerplate strip: the pinned intermediate frame
    feeds both the metadata branch and the surgery input without
    re-evaluation errors, and both accounting fields appear."""
    p = tmp_path / "dirty_s2"
    rows = [
        (1, "HEADER\nthe secret eval answer string here body one", "web"),
        (2, "HEADER\nbody two", "web"),
        (3, "HEADER\nbody three", "web"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string, source string").write.parquet(str(p))
    ndl = tmp_path / "needles2"
    spark.createDataFrame(
        [(100, "the secret eval answer string here")], "doc_id long, text string"
    ).write.parquet(str(ndl))
    out = tmp_path / "surgered2"
    rc = main(
        [
            "clean", "--input", str(p), "--output", str(out),
            "--no-paragraph-dedup", "--needles", str(ndl),
        ]
    )
    assert rc == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["lines_stripped"] == 3
    assert s["docs_contaminated"] == 1 and s["tokens_excised"] == 6
    got = {r.doc_id: r.text for r in spark.read.parquet(str(out)).collect()}
    assert got[1] == "body one" and got[2] == "body two" and got[3] == "body three"


def test_quantize_round_trip(spark, tmp_path, capsys):
    """`lg quantize`: codes parquet + _sq8_params.json land; the affine
    decode reconstructs every vector within half a quantization step per
    dimension, and the params file is invisible to parquet readers."""
    import numpy as np

    rng = np.random.RandomState(5)
    rows = [(i, [float(x) for x in rng.randn(6)]) for i in range(30)]
    p = tmp_path / "emb"
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").write.parquet(str(p))
    out = tmp_path / "codes"
    rc = main(["quantize", "--input", str(p), "--output", str(out)])
    assert rc == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["n_vecs"] == 30 and s["dims"] == 6 and s["bytes_per_vec"] == 6
    params = json.loads((out / "_sq8_params.json").read_text())
    mins, maxs = params["mins"], params["maxs"]
    codes = {r.vec_id: list(r.codes) for r in spark.read.parquet(str(out)).collect()}
    assert len(codes) == 30  # params file didn't break the parquet read
    orig = dict(rows)
    for vid, cs in codes.items():
        for i, c in enumerate(cs):
            assert 0 <= c <= 255
            dec = mins[i] + c * (maxs[i] - mins[i]) / 255.0
            assert abs(dec - orig[vid][i]) <= (maxs[i] - mins[i]) / 255.0 / 2 + 1e-12


def test_validate_expectations_mode(spark, tmp_path, capsys):
    """`lg validate --table`: per-column report + PK gate exit code."""
    p = tmp_path / "tbl"
    spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a")], "pk long, v string"
    ).write.parquet(str(p))
    rc = main(["validate", "--table", str(p), "--pk", "pk"])
    assert rc == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["pk_ok"] and {c["col_name"] for c in s["columns"]} == {"pk", "v"}
    v = next(c for c in s["columns"] if c["col_name"] == "v")
    assert v["n_nulls"] == 1 and v["n_distinct"] == 1 and not v["unique_nonnull"]
    # the same table fails the PK contract on v
    rc = main(["validate", "--table", str(p), "--pk", "v"])
    assert rc == 1
    # neither mode selected → usage error
    assert main(["validate"]) == 2


def test_analyze_compression_flag(spark, tmp_path, docs_parquet, capsys):
    rc = main(["analyze", "--input", docs_parquet, "--compression"])
    assert rc == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    comp = s["compression_by_group"]
    assert set(comp) == {"web", "books"}
    for ratio, n_out in comp.values():
        assert ratio > 0 and n_out >= 0
    # short fixture docs all exceed the hi band (DEFLATE header overhead)
    assert all(n_out > 0 for _, n_out in comp.values())
