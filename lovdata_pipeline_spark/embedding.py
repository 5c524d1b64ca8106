"""Embedding stage: batched vectorized map over chunk content.

The reference batches 100 texts per provider call and zips vectors back
1:1 (reference: domain/services/embedding_service.py:31-83; provider
protocol domain/embedding_provider.py:9-36). Spark shape: one
``mapInPandas`` pass — Arrow batches are the API batches — with a
pluggable provider. The default provider is a deterministic hash-based
mock (mirroring tests/conftest.py:116-130 in spirit but content-derived
so results are order- and partition-independent), keeping correctness
fully offline; a real OpenAI-compatible provider slots in behind the
same callable without touching the plan.

Deviation (documented): the reference silently drops ``cross_refs`` when
constructing EnrichedChunk (embedding_service.py:62-77); we keep every
chunk column.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from lovdata_pipeline_spark.schemas import ENRICHED_CHUNKS_SCHEMA

#: per-worker-process token buckets for ``rate_limited`` wrappers, keyed
#: by each wrapper's construction-time id — module state survives across
#: tasks in a reused Python worker, closure state does not.
_RATE_BUCKETS: dict[str, dict] = {}

# A provider maps a list of texts to a list of equal-length float vectors.
EmbeddingProvider = Callable[[list[str]], list[list[float]]]


def mock_hash_provider(dims: int = 64) -> EmbeddingProvider:
    """Deterministic, content-derived unit vectors.

    embedding[j] is a [-1, 1] value derived from md5 hex-string chaining:
    ``seed = md5_hex(content)``, ``v_j = int(md5_hex(seed + ':' + j)[:16],
    16) / 2^63 - 1``; the vector is L2-normalized so downstream cosine
    math behaves like real embeddings. Same content → same vector, on any
    executor — and the whole derivation is PORTABLE SQL (hex strings, no
    raw digest bytes), so an external engine can reproduce the vectors
    exactly (oracles._embed_pipeline_sql does, in DuckDB). Dividing by
    2^63 is exact (a power-of-two exponent shift), so the doubles are
    bit-identical across engines.
    """

    def embed(texts: list[str]) -> list[list[float]]:
        out = []
        for text in texts:
            seed = hashlib.md5((text or "").encode("utf-8")).hexdigest()
            vals = []
            for j in range(dims):
                h = hashlib.md5(f"{seed}:{j}".encode("ascii")).hexdigest()
                vals.append(int(h[:16], 16) / 2**63 - 1.0)
            norm = math.sqrt(sum(v * v for v in vals)) or 1.0
            out.append([v / norm for v in vals])
        return out

    return embed


def openai_compatible_provider(
    model: str = "text-embedding-3-small",
    base_url: str | None = None,
    api_key: str | None = None,
    max_attempts: int = 5,
    backoff_s: float = 1.0,
    timeout_s: float = 30.0,
    transport: Callable[[str, bytes, dict], bytes] | None = None,
) -> EmbeddingProvider:
    """Provider speaking the OpenAI-compatible ``POST /embeddings`` shape
    (public API: https://platform.openai.com/docs/api-reference/embeddings),
    mirroring the reference's provider semantics
    (infrastructure/openai_embedding_provider.py:24-42): caller batches
    (``embed_chunks_df`` slices to ``batch_size``), one HTTP call per
    batch, vectors re-ordered by the response ``index`` field, retries
    with exponential backoff on 429/5xx and transport errors. A 429's
    ``Retry-After`` header (seconds form), when present, overrides the
    computed backoff for that attempt. ``max_attempts`` bounds TOTAL
    attempts (r2 ADVICE: the old ``max_retries`` name said retries but
    counted attempts); terminal failure raises with the last status
    code and target URL preserved, chained from the underlying error.

    Config comes from args or env (``OPENAI_BASE_URL`` /
    ``OPENAI_API_KEY``) read lazily at call time, so the closure pickles
    cleanly to executors and each executor resolves its own credentials.
    ``transport(url, body, headers) -> bytes`` is injectable for offline
    tests; the default uses stdlib ``urllib`` (no extra dependency). The
    mock provider remains the package default — this adapter is opt-in.
    """

    def embed(texts: list[str]) -> list[list[float]]:
        import http.client
        import json
        import os
        import time
        import urllib.error
        import urllib.request

        url = (
            (base_url or os.environ.get("OPENAI_BASE_URL") or "https://api.openai.com/v1")
            .rstrip("/")
            + "/embeddings"
        )
        key = api_key or os.environ.get("OPENAI_API_KEY", "")
        headers = {
            "Content-Type": "application/json",
            "Authorization": f"Bearer {key}",
        }
        body = json.dumps({"model": model, "input": texts}).encode("utf-8")

        def default_transport(u: str, data: bytes, hdrs: dict) -> bytes:
            req = urllib.request.Request(u, data=data, headers=hdrs, method="POST")
            with urllib.request.urlopen(req, timeout=timeout_s) as resp:
                return resp.read()

        send = transport or default_transport
        last_exc: Exception | None = None
        retry_after_s: float | None = None
        for attempt in range(max_attempts):
            try:
                raw = send(url, body, headers)
                break
            except urllib.error.HTTPError as exc:
                # 429 + 5xx are retryable (rate limit / transient server);
                # 4xx other than 429 are caller bugs — surface immediately.
                if exc.code != 429 and exc.code < 500:
                    raise
                last_exc = exc
                # a server-stated Retry-After (seconds form) overrides the
                # computed backoff for this attempt
                retry_after_s = None
                ra = (exc.headers or {}).get("Retry-After")
                try:
                    retry_after_s = float(ra) if ra is not None else None
                except ValueError:
                    pass  # HTTP-date form: fall back to exponential backoff
            except (
                urllib.error.URLError,
                TimeoutError,
                ConnectionError,
                # mid-body failures (IncompleteRead, BadStatusLine) raised
                # by resp.read() are exactly the transient class this
                # backoff exists for, and are none of the above (r10
                # review)
                http.client.HTTPException,
            ) as exc:
                last_exc = exc
                retry_after_s = None
            # no sleep after the final attempt — fail fast instead of
            # stalling every executor task another backoff interval
            if attempt < max_attempts - 1:
                wait = backoff_s * (2**attempt) if retry_after_s is None else retry_after_s
                time.sleep(wait)
        else:
            status = getattr(last_exc, "code", None)
            detail = f"HTTP {status}" if status is not None else type(last_exc).__name__
            raise RuntimeError(
                f"embedding request to {url} failed after {max_attempts} "
                f"attempts (last error: {detail})"
            ) from last_exc

        payload = json.loads(raw.decode("utf-8"))
        data = sorted(payload["data"], key=lambda d: d["index"])
        vectors = [d["embedding"] for d in data]
        if len(vectors) != len(texts):
            raise ValueError(
                f"provider returned {len(vectors)} vectors for {len(texts)} texts"
            )
        return vectors

    return embed


def rate_limited(
    provider: EmbeddingProvider,
    requests_per_second: float,
    burst: int = 1,
    clock: Callable[[], float] | None = None,
    sleep: Callable[[float], None] | None = None,
) -> EmbeddingProvider:
    """Token-bucket rate limiter around any provider.

    Scale model: the bucket is keyed by a construction-time id in a
    MODULE-LEVEL registry, so after Spark unpickles the wrapper the
    state lives once per Python worker process and persists across that
    worker's tasks (worker reuse is Spark's default). Closure-held state
    would NOT give that: every task deserializes a fresh closure copy,
    so each task would start with a full bucket — one free burst per
    task, overshooting the quota the wrapper exists to respect (r10
    review). On a cluster the effective rate is ``executors × cores ×
    requests_per_second`` — set the argument to ``provider_quota /
    planned_parallelism``. This per-worker design is deliberate: a
    global limiter would need a coordination service; a per-worker
    bucket needs none and degrades safely (the provider's own 429 + the
    retry/backoff in ``openai_compatible_provider`` is the backstop
    when the estimate is off).

    ``clock``/``sleep`` are injectable for tests (defaults: monotonic
    time and ``time.sleep``).
    """
    import time as _time
    import uuid as _uuid

    if requests_per_second <= 0:
        # fail at construction (on the driver), not as a cryptic
        # ZeroDivisionError inside an executor task
        raise ValueError(f"requests_per_second must be > 0, got {requests_per_second}")
    now = clock or _time.monotonic
    pause = sleep or _time.sleep
    capacity = float(max(1, burst))
    # the registry key is fixed on the driver, so every task of THIS
    # wrapper shares one bucket per worker process; 'at' initializes
    # LAZILY on the first call in each process because CLOCK_MONOTONIC
    # epochs differ per machine — a driver-side timestamp could make the
    # first refill delta hugely negative and sleep for days.
    key = _uuid.uuid4().hex

    def embed(texts: list[str]) -> list[list[float]]:
        state = _RATE_BUCKETS.setdefault(key, {"tokens": capacity, "at": None})
        t = now()
        if state["at"] is None:
            state["at"] = t
        state["tokens"] = min(capacity, state["tokens"] + (t - state["at"]) * requests_per_second)
        state["at"] = t
        if state["tokens"] < 1.0:
            wait = (1.0 - state["tokens"]) / requests_per_second
            pause(wait)
            state["tokens"] = 1.0
            state["at"] = now()
        state["tokens"] -= 1.0
        return provider(texts)

    return embed


def embed_batch(
    pdf: pd.DataFrame,
    provider: EmbeddingProvider,
    batch_size: int,
    model_name: str,
    embedded_at: str,
) -> pd.DataFrame:
    """Embed one Arrow batch of chunk rows: the per-batch loop of
    ``embed_chunks_df`` and of the pipeline's fused chunk-and-embed stage.
    Texts go to ``provider`` in slices of at most ``batch_size``; a slice
    answered with the wrong number of vectors raises. Returns the rows in
    ENRICHED_CHUNKS_SCHEMA column order."""
    texts = pdf["content"].fillna("").tolist()
    vectors: list[list[float]] = []
    for i in range(0, len(texts), batch_size):
        got = provider(texts[i : i + batch_size])
        if len(got) != len(texts[i : i + batch_size]):  # zip strict=True analog
            raise ValueError("provider returned wrong number of vectors")
        vectors.extend(got)
    out = pdf.assign(
        # object dtype: one list per row, whatever the row count
        embedding=pd.Series(vectors, index=pdf.index, dtype=object),
        embedding_model=model_name,
        embedded_at=embedded_at,
    )
    return out[[f.name for f in ENRICHED_CHUNKS_SCHEMA.fields]]


def embed_chunks_df(
    chunks: DataFrame,
    provider: EmbeddingProvider | None = None,
    model_name: str = "mock-hash-embedder",
    embedded_at: str = "1970-01-01T00:00:00+00:00",
    batch_size: int = 100,
    dims: int = 64,
) -> DataFrame:
    """chunks (CHUNKS_SCHEMA) → enriched chunks with embedding columns.

    ``embedded_at`` is caller-supplied (an ISO string, as in the
    reference models.py:99) so runs are reproducible; the orchestrator
    stamps wall-clock time, tests stamp a constant.
    """
    impl = provider or mock_hash_provider(dims)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield embed_batch(pdf, impl, batch_size, model_name, embedded_at)

    return chunks.mapInPandas(run, schema=ENRICHED_CHUNKS_SCHEMA)
