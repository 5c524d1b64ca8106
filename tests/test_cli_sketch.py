"""`lg sketch` / `lg phrase`: CLI surfaces of the sketch and
positional-phrase-search families — driven end-to-end over parquet
fixtures, with the CMS artifact round-trip checked against the
in-session estimate."""

from __future__ import annotations

import json
import os

import pytest

from lovdata_pipeline_spark.cli import main
from tests.conftest import _pinned_ids


@pytest.fixture()
def docs_parquet(spark, tmp_path):
    rows = [
        (1, "alpha beta alpha beta alpha", "web"),
        (2, "beta gamma delta beta", "web"),
        (3, "alpha beta gamma sorted rows", "books"),
        (4, "row column sort row column sort", "books"),
    ]
    p = tmp_path / "docs"
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(str(p))
    return str(p)


def test_sketch_cms_query_and_artifact(spark, tmp_path, docs_parquet, capsys):
    out = tmp_path / "cms_sketch"
    rc = main(
        [
            "sketch",
            "--input", docs_parquet,
            "--mode", "cms",
            "--query", "alpha,beta,never-seen",
            "--output", str(out),
            "--width", "512",
            "--depth", "3",
        ]
    )
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    est = {l["token"]: l["n_est"] for l in lines}
    # wide sketch on a tiny vocab: estimates are exact
    assert est == {"alpha": 4, "beta": 5, "never-seen": 0}
    # artifact written with its params sidecar
    params = json.load(open(os.path.join(str(out), "_cms_params.json")))
    assert params["w"] == 512 and params["d"] == 3
    cells = spark.read.parquet(str(out))
    assert cells.count() > 0


def test_sketch_cms_requires_query_or_output(docs_parquet, capsys):
    assert main(["sketch", "--input", docs_parquet, "--mode", "cms"]) == 2


def test_sketch_hll_reports_per_group(docs_parquet, capsys):
    rc = main(["sketch", "--input", docs_parquet, "--mode", "hll"])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert {l["source"] for l in lines} == {"web", "books"}
    assert all(l["n_est"] > 0 for l in lines)


def test_phrase_cli_orders_and_counts(spark, docs_parquet, capsys):
    # VERDICT r7 Next #3: no cached postings frame survives a phrase
    # query. Compare against the PRE-invocation pins — the shared
    # session may legitimately hold other operators' documented caches
    # (textstats retained frames etc.) when the full suite runs.
    before = _pinned_ids(spark)
    rc = main(
        ["phrase", "--input", docs_parquet, "--phrase", "row column sort", "-k", "5"]
    )
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert lines == [{"doc_id": 4, "n_matches": 2}]
    assert not (_pinned_ids(spark) - before)


def test_phrase_cli_index_roundtrip(spark, tmp_path, docs_parquet, capsys):
    before = _pinned_ids(spark)
    idx = str(tmp_path / "cli_postings")
    rc = main(
        [
            "phrase",
            "--input", docs_parquet,
            "--write-index", idx,
            "--phrase", "row column sort",
        ]
    )
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert lines[0]["status"] == "written"
    assert lines[1:] == [{"doc_id": 4, "n_matches": 2}]
    # query the persisted index alone (no --input)
    rc = main(["phrase", "--index", idx, "--phrase", "alpha beta"])
    assert rc == 0
    got = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert got == [
        {"doc_id": 1, "n_matches": 2},
        {"doc_id": 3, "n_matches": 1},
    ]
    # VERDICT r7 Next #3: the index form leaves nothing cached either
    assert not (_pinned_ids(spark) - before)


def test_sketch_hll_store_write_merge_round_trip(
    spark, tmp_path, docs_parquet, capsys
):
    """r8 (VERDICT Next #5): day stores written via the CLI, merged via
    --merge-stores, must estimate exactly like one full-corpus run —
    the cross-session registers-only merge."""
    docs = spark.read.parquet(docs_parquet)
    d1, d2 = tmp_path / "day1", tmp_path / "day2"
    docs.filter("doc_id % 2 = 0").write.parquet(str(tmp_path / "p1"))
    docs.filter("doc_id % 2 = 1").write.parquet(str(tmp_path / "p2"))
    for src, store in ((tmp_path / "p1", d1), (tmp_path / "p2", d2)):
        rc = main(["sketch", "--input", str(src), "--mode", "hll",
                   "--output", str(store)])
        assert rc == 0
    capsys.readouterr()
    rc = main(["sketch", "--mode", "hll", "--merge-stores", f"{d1},{d2}"])
    assert rc == 0
    merged = {json.loads(l)["source"]: json.loads(l)["n_est"]
              for l in capsys.readouterr().out.strip().splitlines()}
    rc = main(["sketch", "--input", docs_parquet, "--mode", "hll"])
    assert rc == 0
    full = {json.loads(l)["source"]: json.loads(l)["n_est"]
            for l in capsys.readouterr().out.strip().splitlines()}
    assert merged == full
    params = json.load(open(os.path.join(str(d1), "_hll_params.json")))
    assert params["p"] == 5 and params["salt"] == "hll-v1"


def test_sketch_merge_stores_requires_hll(docs_parquet, capsys):
    assert main(["sketch", "--mode", "cms", "--merge-stores", "/nope"]) == 2


def test_sketch_merge_stores_rejects_empty_list(capsys):
    assert main(["sketch", "--mode", "hll", "--merge-stores", ","]) == 2


def test_sketch_bloom_membership(docs_parquet, capsys):
    rc = main(
        ["sketch", "--input", docs_parquet, "--mode", "bloom",
         "--query", "alpha,row,never-seen-token", "--m-bits", "4096"]
    )
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    got = {l["token"]: l["in_filter"] for l in lines}
    # wide filter on a tiny vocab: no false positives, never a false negative
    assert got == {"alpha": True, "row": True, "never-seen-token": False}


def test_sketch_bloom_requires_query(docs_parquet, capsys):
    assert main(["sketch", "--input", docs_parquet, "--mode", "bloom"]) == 2


def test_phrase_cli_arg_validation(docs_parquet, capsys):
    assert main(["phrase", "--input", docs_parquet]) == 2
    assert main(["phrase", "--phrase", "x"]) == 2


def test_sketch_persisted_query_without_corpus(spark, tmp_path, docs_parquet, capsys):
    out = tmp_path / "cms_store"
    assert main(["sketch", "--input", docs_parquet, "--output", str(out),
                 "--width", "256", "--depth", "2"]) == 0
    capsys.readouterr()
    # query the artifact alone — no --input, w/d from the sidecar
    rc = main(["sketch", "--sketch", str(out), "--query", "alpha,beta"])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert {l["token"]: l["n_est"] for l in lines} == {"alpha": 4, "beta": 5}
    # version gate
    import json as _json
    p = os.path.join(str(out), "_cms_params.json")
    params = _json.load(open(p)); params["version"] = 999
    _json.dump(params, open(p, "w"))
    with pytest.raises(ValueError, match="version"):
        main(["sketch", "--sketch", str(out), "--query", "alpha"])
