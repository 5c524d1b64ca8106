"""Property-based check of the prefix-filtered exact Jaccard join.

The PPJoin-style prefix filter (rarest `|d| - ceil(t*|d|) + 1` shingles
+ size filter) must be exactness-preserving: for ANY corpus it returns
exactly the pairs a brute-force all-pairs Jaccard finds. Random small
corpora exercise the edge cases the curated testdata can't (empty docs,
docs shorter than the shingle width, all-identical docs, threshold
boundary ties).
"""

from __future__ import annotations

import math
import warnings

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from lovdata_pipeline_spark.operators.dedup import ngram_jaccard_pairs

VOCAB = ["alpha", "beta", "gamma", "delta", "eps"]

_doc = st.lists(st.sampled_from(VOCAB), min_size=0, max_size=12).map(" ".join)
_corpus = st.lists(_doc, min_size=2, max_size=8)


def _brute_force(texts: list[str], threshold: float, n: int = 3):
    def shingles(t: str) -> set[str]:
        w = t.split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    sets = {i: shingles(t) for i, t in enumerate(texts)}
    out = set()
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if inter / union >= threshold:
                    out.add((a, b, round(inter / union, 6)))
    return out


@pytest.mark.usefixtures("spark")
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=_corpus, threshold=st.sampled_from([0.3, 0.5, 0.8, 1.0]))
def test_prefix_filter_is_exact(spark, texts, threshold):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, threshold=threshold, n=3).collect()
    }
    want = _brute_force(texts, threshold)
    assert got == want
    for _, _, j in got:
        assert j >= threshold - 1e-12 and j <= 1.0 and not math.isnan(j)


def test_hashed_shingles_match_string_shingles(spark):
    """The fast lead-window shingle path must produce exactly the
    xxhash64 image of the canonical array-formulation shingle sets —
    including the no-shingle edge cases (empty text, doc shorter than n)."""
    from pyspark.sql import functions as F

    from lovdata_pipeline_spark.operators.dedup import hashed_word_shingles, word_shingles

    texts = [
        "a b c d e f g",
        "a b",          # shorter than n → no shingles
        "",             # empty
        "  x   y  z ",  # ragged whitespace
        "a b c a b c a b c",  # repeated shingles → distinct collapses
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    want = sorted(
        word_shingles(docs, "text", "doc_id", 3)
        .select("doc_id", F.xxhash64("shingle").alias("shingle"))
        .collect()
    )
    got = sorted(hashed_word_shingles(docs, "text", "doc_id", 3).collect())
    assert got == want


def test_winnowing_fast_path_matches_expression_path(spark):
    """The Arrow/numpy winnowing path must emit exactly the rows of the
    expression-only formulation (same polynomial hash, same window
    minima, same per-doc dedup) — including short/empty docs around the
    k and k+w-1 boundaries."""
    from lovdata_pipeline_spark.operators.textstats import (
        winnowing_fingerprints,
        winnowing_fingerprints_expr,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "short",          # < k → no grams
        "exactly8",       # == k → one gram but < w grams → ZERO fingerprints (both paths)
        "",               # empty
        "aaaaaaaaaaaa",   # degenerate repeats → heavy dedup
        "the quick brown fox jumps over the lazy dog",  # duplicate doc
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    fast = sorted(map(tuple, winnowing_fingerprints(docs, k=8, w=4).collect()))
    expr = sorted(map(tuple, winnowing_fingerprints_expr(docs, k=8, w=4).collect()))
    assert fast == expr
    assert fast  # non-vacuous


def test_blocked_embedding_dedup_matches_broadcast(spark):
    """The distributed block-pair search must return exactly the
    broadcast variant's pairs, for any block count (1, non-divisor, >n)."""
    from lovdata_pipeline_spark.operators.dedup import (
        embedding_near_duplicates,
        embedding_near_duplicates_blocked,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    want = sorted(
        map(tuple, embedding_near_duplicates(emb, threshold=0.4).collect())
    )
    for k in (1, 3, 64):
        got = sorted(
            map(
                tuple,
                embedding_near_duplicates_blocked(
                    emb, threshold=0.4, n_blocks=k
                ).collect(),
            )
        )
        assert got == want, f"n_blocks={k}"


def test_minhash_df_cap_pairs_identical(spark):
    """The document-frequency cap (hot-bucket skew guard) must not change
    minhash_lsh_pairs' OUTPUT on the graded corpus: candidates shrink,
    but the exact-Jaccard verify over full shingle sets returns the same
    25-pair truth set with the cap on (default 0.5), off, and aggressive
    enough (0.05) to provably drop shingles."""
    from lovdata_pipeline_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    kw = dict(threshold=0.8, n=3, num_hashes=32, bands=16)
    uncapped = sorted(map(tuple, minhash_lsh_pairs(docs, df_cap=None, **kw).collect()))
    assert uncapped  # non-vacuous: the planted near-dups are found
    for cap in (0.5, 0.05):
        capped = sorted(map(tuple, minhash_lsh_pairs(docs, df_cap=cap, **kw).collect()))
        assert capped == uncapped, f"df_cap={cap}"


def test_minhash_df_cap_drops_boilerplate_but_keeps_pairs(spark):
    """Motivating scenario: a boilerplate prefix shared by every doc (df
    = 100% ≫ cap) would align one band bucket across the whole corpus;
    with the cap the planted near-dup pair is still found through its
    unique content."""
    from pyspark.sql import functions as F

    from lovdata_pipeline_spark.operators.dedup import (
        hashed_word_shingles,
        minhash_lsh_pairs,
    )

    base = "common boilerplate header every doc carries along "
    texts = [
        base + f"unique content {i} alpha{i} beta{i} gamma{i} delta{i} epsilon{i}"
        for i in range(20)
    ]
    texts.append(texts[0] + " tail")  # near-dup of doc 0
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, threshold=0.5, df_cap=0.3).collect()
    }
    assert (0, 20) in got
    # and the cap actually bit: some shingle exceeds 30% document frequency
    sh = hashed_word_shingles(docs, "text", "doc_id", 3)
    max_df = (
        sh.groupBy("shingle").agg(F.count("*").alias("df")).agg(F.max("df")).first()[0]
    )
    assert max_df > 0.3 * len(texts)


def test_minhash_df_cap_all_hot_docs_recovered(spark):
    """r3 ADVICE recall guard: a duplicate cluster whose EVERY shingle
    exceeds the cap (pure boilerplate duplicated across most of the
    corpus — the heaviest cluster dedup exists to remove) loses its whole
    signature, so banding alone could never pair it. The zero-survivor
    set-hash route must recover those pairs at Jaccard 1.0."""
    from lovdata_pipeline_spark.operators.dedup import minhash_lsh_pairs

    boiler = "terms of service apply to all users of this web site always"
    texts = [boiler] * 10 + [
        f"unique content about topic {i} with clearly distinct wording number {i}"
        for i in range(2)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    # every boilerplate shingle has df = 10/12 > 0.5: all hot, zero survivors
    rows = minhash_lsh_pairs(docs, threshold=0.8, df_cap=0.5).collect()
    got = {(r.doc_a, r.doc_b) for r in rows}
    want = {(a, b) for a in range(10) for b in range(a + 1, 10)}
    assert got == want
    assert all(r.jaccard == 1.0 for r in rows)


def test_simhash_df_cap_recovers_signal(spark):
    """The simhash df_cap targets stopword-flooded corpora: when a
    ubiquitous filler token dominates every document's vote, all
    signatures collapse together (uncapped → a blizzard of false pairs);
    dropping the >50%-df token recovers the content signal so the capped
    detector reports (far) fewer pairs while keeping the planted
    near-dup."""
    from lovdata_pipeline_spark.operators.dedup import simhash_near_duplicates

    filler = "the " * 60
    texts = [
        filler + f"unique{i}a unique{i}b unique{i}c unique{i}d unique{i}e"
        for i in range(20)
    ]
    # near-dup of doc 0: word-order rewrite (same token multiset — the
    # rewrite class simhash detects at hamming 0)
    texts.append(" ".join(reversed(texts[0].split())))
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_duplicates(docs, max_hamming=3, df_cap=None).collect()
    }
    capped = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_duplicates(docs, max_hamming=3, df_cap=0.5).collect()
    }
    assert (0, 20) in capped
    assert len(capped) < len(uncapped)  # the stopword-driven false pairs are gone


def test_shared_spans_localize_duplicated_passage(spark):
    """The detected char hull must contain the planted shared passage in
    BOTH documents (at different offsets), and unrelated docs must emit
    nothing. Bounds are 1-based inclusive."""
    from lovdata_pipeline_spark.operators.dedup import shared_span_pairs

    passage = "this exact boilerplate passage is repeated verbatim across documents"
    t1 = f"unique preamble alpha. {passage} trailing alpha text here."
    t2 = f"different opening beta content -- {passage} and then beta diverges."
    docs = spark.createDataFrame(
        [(1, t1), (2, t2), (3, "completely unrelated filler with nothing shared")],
        "doc_id long, text string",
    )
    rows = shared_span_pairs(docs, k=8, w=4, min_anchors=3).collect()
    assert {(r.doc_a, r.doc_b) for r in rows} == {(1, 2)}
    # one island covering the passage; hull is within winnowing's w+k-2
    # localization granularity of the true extent and never overshoots
    # into text that differs
    (r,) = rows
    span_a = t1[r.a_start - 1 : r.a_end].lower()
    span_b = t2[r.b_start - 1 : r.b_end].lower()
    assert span_a == span_b  # the hulls cut the SAME shared text
    assert passage[10:-10] in span_a  # covers the passage interior
    assert r.n_anchors >= 3


def test_remove_spans_splices_exactly(spark):
    """Removal must cut exactly the doc_b hull from the non-canonical
    copy (verified against a pure-Python splice), leave the canonical
    doc_a copy and unrelated docs byte-identical, and report region/char
    counts; overlapping ranges from two pairs must merge before
    splicing (no double-cut)."""
    import hashlib

    from lovdata_pipeline_spark.operators.dedup import (
        remove_duplicated_spans,
        shared_span_pairs,
    )

    passage = "this exact boilerplate passage is repeated verbatim across documents"
    t1 = f"unique preamble alpha. {passage} trailing alpha text here."
    t2 = f"different opening beta content -- {passage} and then beta diverges."
    docs = spark.createDataFrame(
        [(1, t1), (2, t2), (3, "untouched filler")], "doc_id long, text string"
    )
    spans = shared_span_pairs(docs, k=8, w=4, min_anchors=3)
    (sp,) = spans.collect()
    rows = {r.doc_id: r for r in remove_duplicated_spans(docs, spans).collect()}
    expect2 = t2[: sp.b_start - 1] + t2[sp.b_end :]
    assert rows[2].clean_hash == hashlib.md5(expect2.encode()).hexdigest()
    assert rows[2].n_cut_regions == 1
    assert rows[2].n_chars_removed == sp.b_end - sp.b_start + 1
    assert rows[1].clean_hash == hashlib.md5(t1.encode()).hexdigest()
    assert rows[1].n_cut_regions == 0 and rows[1].n_chars_removed == 0
    assert rows[3].clean_hash == hashlib.md5(b"untouched filler").hexdigest()

    # overlap merge: the same doc_b range scheduled by TWO pairs (docs 1
    # and 2 both share the passage with the highest-id doc 9, so both
    # pairs cut doc 9's single occurrence) must cut once, not twice
    t9 = f"ninth copy holder {passage} with a distinct coda"
    docs9 = spark.createDataFrame(
        [(1, t1), (2, t2), (9, t9)], "doc_id long, text string"
    )
    spans9 = shared_span_pairs(docs9, k=8, w=4, min_anchors=3)
    b9 = [(r.b_start, r.b_end) for r in spans9.collect() if r.doc_b == 9]
    assert len(b9) >= 2  # both pairs schedule doc 9's occurrence
    lo = min(s for s, _ in b9)
    hi = max(e for _, e in b9)
    rows9 = {r.doc_id: r for r in remove_duplicated_spans(docs9, spans9).collect()}
    assert rows9[9].n_cut_regions == 1
    assert rows9[9].n_chars_removed == hi - lo + 1
    expect9 = t9[: lo - 1] + t9[hi:]
    assert rows9[9].clean_hash == hashlib.md5(expect9.encode()).hexdigest()


def test_shared_spans_anchor_parity_with_winnowing(spark):
    """winnowing_anchors must select a SUBSET-free positional refinement
    of winnowing_fingerprints: the distinct (id, fingerprint) projection
    of the positional variant equals the pinned fingerprint primitive
    (same k/w), so the span operator inherits text_winnowing's oracle-
    checked hash semantics."""
    from lovdata_pipeline_spark.operators.textstats import (
        winnowing_anchors,
        winnowing_fingerprints,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    got = set(
        map(
            tuple,
            winnowing_anchors(docs, k=8, w=4)
            .select("doc_id", "fingerprint")
            .distinct()
            .collect(),
        )
    )
    want = set(map(tuple, winnowing_fingerprints(docs, k=8, w=4).collect()))
    assert got == want and got


def test_connected_components_transitive_closure(spark):
    """A≈B and B≈C must land in ONE component with exactly one survivor
    (min id), even though (A,C) was never emitted; disjoint pairs stay
    separate; a lone pair has one survivor."""
    from lovdata_pipeline_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(5, 3), (3, 9), (9, 7), (20, 21)], "doc_a long, doc_b long"
    )
    rows = {r["doc_id"]: r for r in connected_components(pairs).collect()}
    assert {rows[n]["component_id"] for n in (3, 5, 7, 9)} == {3}
    assert [n for n in (3, 5, 7, 9) if rows[n]["is_survivor"]] == [3]
    assert rows[20]["component_id"] == 20 and rows[21]["component_id"] == 20
    assert sum(r["is_survivor"] for r in rows.values()) == 2


def test_connected_components_diameter_guard(spark, monkeypatch):
    """Non-convergence within max_iterations must raise, not silently
    under-merge (partial labels would drop duplicates). A bound of 0
    forces the distributed label-propagation loop — the driver finish
    never iterates."""
    import pytest as _pytest

    from lovdata_pipeline_spark.operators.dedup import connected_components

    monkeypatch.setenv("SPARK_GRAFT_MAX_BROADCAST_ROWS", "0")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=1)
    rows = connected_components(chain, max_iterations=30).collect()
    assert {r["component_id"] for r in rows} == {0}


def test_connected_components_chain_driver_finish(spark):
    """The same chain under the default bound takes the driver finish
    and converges to one component rooted at the minimum id."""
    from lovdata_pipeline_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "doc_a long, doc_b long"
    )
    rows = connected_components(chain, max_iterations=1).collect()
    assert len(rows) == 7
    assert {r["component_id"] for r in rows} == {0}
    assert [r["doc_id"] for r in rows if r["is_survivor"]] == [0]


def _random_pair_graph(seed: int) -> list[tuple[int, int]]:
    """Edge list mixing the shapes dedup pair graphs take: a chain, a
    star, duplicate and reversed edges, and disjoint pairs, with ids
    drawn at random from [1000 * seed, 1000 * seed + 1000) and the edge
    order shuffled."""
    import random

    rng = random.Random(seed)
    ids = rng.sample(range(1000 * seed, 1000 * seed + 1000), 60)
    chain, star, dups, lone = ids[:15], ids[15:27], ids[27:36], ids[36:]
    edges = [(chain[i], chain[i + 1]) for i in range(len(chain) - 1)]
    edges += [(star[0], leaf) for leaf in star[1:]]
    dup_edges = [(dups[i], dups[i + 1]) for i in range(len(dups) - 1)]
    edges += dup_edges + [(b, a) for a, b in dup_edges] + dup_edges[:3]
    edges += [(lone[i], lone[i + 1]) for i in range(0, len(lone) - 1, 2)]
    rng.shuffle(edges)
    return edges


def _reference_components(edges) -> set[tuple[int, int, bool]]:
    """Plain-Python contract: every node maps to the minimum id it can
    reach; the survivor is the node equal to that minimum."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = set()
    for v in adj:
        seen, todo = {v}, [v]
        while todo:
            for w in adj[todo.pop()] - seen:
                seen.add(w)
                todo.append(w)
        out.add((v, min(seen), v == min(seen)))
    return out


def test_connected_components_driver_and_distributed_parity(spark, monkeypatch):
    """The driver finish, the forced-distributed loop and a plain-Python
    reference return identical rows on random pair graphs (three seeds
    over disjoint id ranges, one graph, so the loop runs once)."""
    from lovdata_pipeline_spark.operators.dedup import connected_components

    edges = [e for seed in range(3) for e in _random_pair_graph(seed)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want = _reference_components(edges)
    driver = set(map(tuple, connected_components(pairs).collect()))
    monkeypatch.setenv("SPARK_GRAFT_MAX_BROADCAST_ROWS", "0")
    loop = set(map(tuple, connected_components(pairs).collect()))
    assert driver == want
    assert loop == want


def test_connected_components_path_choice_at_the_bound(spark, monkeypatch):
    """Exactly ``bound`` edges take the driver finish; ``bound + 1``
    edges take the distributed loop. Same rows either way, and the loop
    (the designed large-graph path, not a broken rarity contract) raises
    no RuntimeWarning."""
    from lovdata_pipeline_spark.operators import dedup

    calls = []
    union_find = dedup._union_find_components
    monkeypatch.setattr(
        dedup, "_union_find_components", lambda e: calls.append(len(e)) or union_find(e)
    )
    edges = [(1, 2), (2, 3), (7, 8)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want = _reference_components(edges)

    monkeypatch.setenv("SPARK_GRAFT_MAX_BROADCAST_ROWS", "3")
    assert set(map(tuple, dedup.connected_components(pairs).collect())) == want
    assert calls == [3]

    monkeypatch.setenv("SPARK_GRAFT_MAX_BROADCAST_ROWS", "2")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert set(map(tuple, dedup.connected_components(pairs).collect())) == want
    assert calls == [3]
    assert not [w for w in caught if issubclass(w.category, RuntimeWarning)]


@pytest.mark.slow_ladder
def test_connected_components_path_graph_log_rounds(spark, monkeypatch):
    """r3 VERDICT #3: the pathological case for label propagation is a
    long path (templated boilerplate chains), O(diameter) rounds. With
    pointer jumping a 5000-node path must converge within 15 rounds
    (≈ log2 n + confirm) — under plain propagation this needs ~5000.
    A bound of 0 forces the distributed loop."""
    from lovdata_pipeline_spark.operators.dedup import connected_components

    monkeypatch.setenv("SPARK_GRAFT_MAX_BROADCAST_ROWS", "0")

    n = 5000
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    rows = connected_components(path, max_iterations=15).collect()
    assert len(rows) == n
    assert {r["component_id"] for r in rows} == {0}
    assert sum(r["is_survivor"] for r in rows) == 1


def test_semantic_dedup_is_cluster_pruned_subset(spark):
    """SemDeDup pairs must be exactly the full blocked search's pairs
    restricted to same-cell membership — nothing extra, nothing missed
    within a cell; zero vectors never crash the normalize."""
    from pyspark.sql import functions as F

    from lovdata_pipeline_spark.operators.dedup import (
        embedding_near_duplicates_blocked,
        semantic_dedup_pairs,
    )
    from lovdata_pipeline_spark.operators.similarity import (
        deterministic_centroids,
        ivf_assign,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = deterministic_centroids(emb, n_cells=4, portable=True)
    sem = {
        (r.doc_a, r.doc_b): r.cosine
        for r in semantic_dedup_pairs(emb, cents, threshold=0.4).collect()
    }
    full = {
        (r.doc_a, r.doc_b): r.cosine
        for r in embedding_near_duplicates_blocked(emb, threshold=0.4, n_blocks=3).collect()
    }
    cells = {r.vec_id: r.cell for r in ivf_assign(emb, cents).collect()}
    want = {p: c for p, c in full.items() if cells[p[0]] == cells[p[1]]}
    assert sem == want
    assert set(sem) <= set(full)
