"""`lg process` end to end: the CLI scans a `<dataset>/<doc_id>.xml`
tree, decides what changed against the state store, and prints the
pass's counts (reference: cli.py:120-158, pipeline_orchestrator.py:214-278).

Three passes over one store: v1 ingests a corpus with one malformed
document, v2 is unchanged (only the failed document is retried), v3
modifies, adds and deletes files — including the malformed one, whose
failed state row must go too."""

from __future__ import annotations

import json

import pytest

from lovdata_pipeline_spark import cli
from lovdata_pipeline_spark.sources.state_store import StateStore
from tests import fixtures

# small chunk and embedding sizes keep the passes quick
FLAGS = ["--target-tokens", "100", "--max-tokens", "500", "--min-tokens", "50",
         "--embedding-dims", "8"]

V1 = {
    "dsA/a1.xml": fixtures.standard_law(),
    "dsA/a2.xml": fixtures.change_law(),
    "dsB/b1.xml": fixtures.simple_law(),
    "dsB/bad.xml": fixtures.malformed(),
}


def _write(corpus, files: dict[str, str]) -> None:
    for rel, xml in files.items():
        path = corpus / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(xml)


@pytest.fixture
def lg(tmp_path, capsys):
    """Run an `lg` subcommand over one corpus/store/state triple under
    ``tmp_path``; returns (exit code, the JSON line it printed)."""
    paths = {k: str(tmp_path / k) for k in ("corpus", "store", "state")}

    def run(command: str, *extra: str) -> tuple[int, dict]:
        argv = [command, "--store", paths["store"], "--state", paths["state"]]
        if command == "process":
            argv += ["--corpus", paths["corpus"], *FLAGS]
        code = cli.main(argv + list(extra))
        return code, json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    run.corpus = tmp_path / "corpus"
    run.state = paths["state"]
    return run


def _counts(processed: int, failed: int, removed: int) -> dict:
    return {"processed": processed, "failed": failed, "removed": removed}


def test_process_three_passes(spark, lg):
    _write(lg.corpus, V1)
    assert lg("process") == (1, _counts(3, 1, 0))

    # unchanged corpus: nothing is reprocessed, the failed doc is retried
    assert lg("process") == (1, _counts(0, 1, 0))

    # v3: a1 modified, b2 added, a2 and the malformed doc deleted
    _write(lg.corpus, {"dsA/a1.xml": fixtures.law_with_crossrefs(),
                       "dsB/b2.xml": fixtures.law_with_list()})
    (lg.corpus / "dsA/a2.xml").unlink()
    (lg.corpus / "dsB/bad.xml").unlink()
    assert lg("process") == (0, _counts(2, 0, 2))

    rows = {r.doc_id: r.status for r in StateStore(spark, lg.state).read().collect()}
    assert rows == {"a1": "processed", "b1": "processed", "b2": "processed"}
    code, report = lg("validate")
    assert code == 0 and report["consistent"]


def test_process_datasets_filter(spark, lg):
    _write(lg.corpus, V1)
    assert lg("process", "--datasets", "dsB") == (1, _counts(1, 1, 0))
    # the dsA docs were never selected, so the next full pass takes them
    assert lg("process") == (1, _counts(2, 1, 0))


def test_process_limit(spark, lg):
    _write(lg.corpus, V1)
    # head-2 by doc_id: a1, a2 — then b1, bad
    assert lg("process", "--limit", "2") == (0, _counts(2, 0, 0))
    assert lg("process", "--limit", "2") == (1, _counts(1, 1, 0))
    assert lg("process") == (1, _counts(0, 1, 0))
