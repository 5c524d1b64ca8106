"""The versioned-artifact format (``operators/indexwrite.py``): the
sidecar commit and the gates every artifact reader passes through —
including the build-constant gates (k-NN geometry, classifier scale,
BPE separator) that no round-specific test pinned."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from lovdata_pipeline_spark.cli import main
from lovdata_pipeline_spark.operators import textstats


def _edit_sidecar(path: str, name: str, **changes) -> None:
    side = os.path.join(path, name)
    params = json.load(open(side))
    params.update(changes)
    json.dump(params, open(side, "w"))


def test_sidecar_commit_and_gates(tmp_path):
    from lovdata_pipeline_spark.operators import indexwrite

    path = str(tmp_path / "art")
    os.makedirs(path)
    indexwrite.write_sidecar(path, "demo", {"version": 2, "salt": "s1", "w": 8})
    # atomic commit: the temp file is renamed away, never left behind
    assert sorted(os.listdir(path)) == ["_demo_params.json"]
    assert indexwrite.read_sidecar(path, "demo", 2, expect={"salt": "s1"})["w"] == 8
    with pytest.raises(ValueError, match="unknown version 2"):
        indexwrite.read_sidecar(path, "demo", 3)
    with pytest.raises(ValueError, match="unknown salt 's1'"):
        indexwrite.read_sidecar(path, "demo", 2, expect={"salt": "s2"})
    assert indexwrite.read_sidecar(str(tmp_path), "demo", 2, optional=True) is None
    with pytest.raises(FileNotFoundError):
        indexwrite.read_sidecar(str(tmp_path), "demo", 2)


def test_knn_index_rejects_raw_space_search_index(spark, tmp_path):
    """An `lg index` output without --graph (raw-space cells, no
    geometry tag) passed as the k-NN graph's index must fail loud."""
    from lovdata_pipeline_spark.operators.graph import knn_edges

    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(4).tolist()) for i in range(12)]
    emb = tmp_path / "emb"
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").write.parquet(
        str(emb)
    )
    idx = str(tmp_path / "raw_idx")
    assert main(["index", "--input", str(emb), "--output", idx, "--cells", "2"]) == 0
    with pytest.raises(ValueError, match="geometry"):
        knn_edges(
            spark.read.parquet(str(emb)),
            k=2,
            candidates="ivf",
            n_probe=1,
            index_path=idx,
        )


def test_classifier_wscale_gate(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, i % 2, "good words" if i % 2 else "bad words") for i in range(8)],
        "doc_id long, label int, text string",
    )
    model = str(tmp_path / "clf")
    weights = textstats.train_text_classifier(docs, "label", n_buckets=8, iterations=1)
    textstats.save_classifier(weights, model)
    wq, seed = textstats.load_classifier(spark, model)
    assert len(wq) == 9 and seed == "clf-v1"
    _edit_sidecar(model, "_clf_params.json", wscale=1 << 20)
    with pytest.raises(ValueError, match="wscale"):
        textstats.load_classifier(spark, model)
    # a bare weight parquet (no sidecar) still loads
    os.remove(os.path.join(model, "_clf_params.json"))
    assert textstats.load_classifier(spark, model) == (wq, "clf-v1")


def test_bpe_separator_gate(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "lower lower lowest"), (2, "newest newest widest")],
        "doc_id long, text string",
    )
    art = str(tmp_path / "merges")
    textstats.save_bpe_merges(textstats.bpe_train(docs, n_merges=2), art)
    merges = textstats.load_bpe_merges(spark, art)
    _edit_sidecar(art, "_bpe_params.json", separator=ord("|"))
    with pytest.raises(ValueError, match="separator"):
        textstats.load_bpe_merges(spark, art)
    # a bare merge parquet (no sidecar) still loads
    os.remove(os.path.join(art, "_bpe_params.json"))
    assert textstats.load_bpe_merges(spark, art) == merges
