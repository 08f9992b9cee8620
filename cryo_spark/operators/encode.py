"""Learned-embedding adapter: batched model inference from raw text
to the (id, embedding) shape every semantic operator consumes.

This is the SYNONYMY tier of the semantic stack (round 15, verdict
task 4). The self-contained signed-feature-hash embeddings
(:mod:`cryo_spark.operators.textembed`) cover word-reorder and
near-verbatim duplicates and are hash-provable against a DuckDB twin;
they cannot see synonymy ("car" vs "automobile" hash to unrelated
buckets). A LEARNED encoder can — and everything downstream
(:func:`incremental.embedding_index`, :func:`similarity.graph_dedup`,
:func:`similarity.knn_graph`, :func:`semdedup.semantic_dedup`,
:func:`decontam.embedding_decontaminate`) only needs the
``(id_col, embedding array<float>)`` frame this adapter produces, so
swapping tiers is a one-line change at the featurization step.

The encoder itself is a plain Python callable
``encoder_fn(list[str]) -> (n, dim) float array`` — a
sentence-transformers ``model.encode``, an ONNX session, or the
deterministic test stub below. It is CLOSURE-SHIPPED to executors
(pickled with the task). For real model weights prefer either (a)
loading the model lazily INSIDE ``encoder_fn`` from a path that
exists on every executor (the callable then pickles as a few bytes
and each executor pays one load), or (b) a
``spark.sparkContext.broadcast(weights)`` captured by the closure so
the weights ship once per executor, not once per task.

Scale shape: ONE narrow mapInPandas pass — no shuffle, partitioning
preserved; 100 TB featurizes embarrassingly parallel, exactly like
``textembed``/``classifier.featurize``. The knobs that matter at
scale:

- ``batch_size`` bounds the model's per-call memory/latency inside
  one Arrow batch (GPU/BLAS encoders want the biggest batch that
  fits; the default 256 suits CPU sentence encoders).
- Partition sizing: each task holds one Arrow batch of documents
  plus the model's activation memory. Size upstream partitions so
  (docs/partition x mean doc bytes) stays near
  ``spark.sql.files.maxPartitionBytes`` and let
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (default 10k)
  bound the per-batch row count; with a per-executor model of M
  bytes, executor memory needs M + one batch of text + one batch of
  (batch_size x dim) float32 activations — independent of corpus
  size.
- Throughput is model-bound, not Spark-bound: the adapter adds one
  Arrow serialization boundary per batch and nothing else.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def encode_documents(
    df: DataFrame,
    encoder_fn: Callable[[list[str]], "np.ndarray"],
    batch_size: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """(id_col, out_col): run ``encoder_fn`` over ``text_col`` in
    Arrow-batched, ``batch_size``-bounded calls and return dense
    float32 embeddings — the exact input shape of
    ``embedding_index`` / ``graph_dedup`` / ``semantic_dedup`` /
    ``embedding_decontaminate``.

    ``dim`` pins the output width; when omitted it is probed ONCE on
    the driver with ``encoder_fn([""])`` (cheap for any real encoder —
    one forward pass on one empty string). Every executor batch is
    validated against it: a ragged or transposed encoder output fails
    loudly instead of writing corrupt vectors. NULL text encodes as
    the empty string (the convention the hash-embedding tier uses:
    deterministic, never dropped)."""
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    if dim is None:
        probe = np.asarray(encoder_fn([""]))
        if probe.ndim != 2 or probe.shape[0] != 1:
            raise ValueError(
                "encoder_fn must return a (n_texts, dim) array; the "
                f"probe call returned shape {probe.shape}"
            )
        dim = int(probe.shape[1])
    want_dim = int(dim)

    id_type = df.schema[id_col].dataType.simpleString()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[lo:lo + batch_size]
                texts = [
                    "" if t is None else str(t) for t in chunk[text_col]
                ]
                embs = np.asarray(encoder_fn(texts), dtype=np.float32)
                if embs.shape != (len(texts), want_dim):
                    raise ValueError(
                        f"encoder_fn returned shape {embs.shape} for "
                        f"{len(texts)} texts, expected "
                        f"({len(texts)}, {want_dim})"
                    )
                yield pd.DataFrame(
                    {
                        id_col: chunk[id_col].values,
                        out_col: list(embs),
                    }
                )

    return df.select(id_col, text_col).mapInPandas(
        run, f"{id_col} {id_type}, {out_col} array<float>"
    )


def stub_synonym_encoder(
    dim: int = 32, synonyms: dict[str, str] | None = None
) -> Callable[[list[str]], "np.ndarray"]:
    """Deterministic test encoder with a SYNONYM table: tokens are
    lowercased, split on the explicit engine-neutral whitespace class,
    mapped through ``synonyms`` (surface form -> canonical form), then
    signed-hash bagged with the repo's established md5 bucket/sign
    bytes (digest bytes 8 and 12 — the same md5_number_lower bits the
    textembed/simhash twins pin) — so two texts that differ only by
    listed synonyms encode IDENTICALLY, which the hash-embedding tier
    provably cannot do, and the whole adapter path is hash-provable
    against :func:`stub_synonym_encoder_sql`. Stands in for a learned
    model in tests AND in the ``llm_synonym_dedup`` contract entry;
    pickles as a few bytes (the closure carries only the dict).
    ``dim`` must be a power of two in [2, 256] (one digest byte
    addresses the bucket)."""
    import hashlib
    import re

    if dim < 2 or dim > 256 or dim & (dim - 1):
        raise ValueError(
            f"dim must be a power of two in [2, 256], got {dim}"
        )
    syn = dict(synonyms or {})
    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def encode(texts: list[str]) -> np.ndarray:
        out = np.zeros((len(texts), dim), dtype=np.float32)
        # no .strip(): Python's no-arg strip removes UNICODE
        # whitespace, which neither DuckDB's trim nor the explicit
        # ASCII class does — empty tokens from leading/trailing ASCII
        # whitespace are filtered below instead
        for i, t in enumerate(texts):
            for tok in ws.split((t or "").lower()):
                if not tok:
                    continue
                tok = syn.get(tok, tok)
                h = hashlib.md5(tok.encode()).digest()
                b = h[8] & (dim - 1)
                s = 1.0 if (h[12] & 1) else -1.0
                out[i, b] += s
        return out

    return encode


def stub_synonym_encoder_sql(
    table: str,
    dim: int = 32,
    synonyms: dict[str, str] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "embedding",
) -> str:
    """DuckDB twin of documents -> :func:`encode_documents` with
    :func:`stub_synonym_encoder`: same tokenizer (explicit whitespace
    class — RE2's \\s lacks \\x0B), same CASE-mapped synonym table,
    same md5_number_lower bucket/sign bits, same per-bucket +-1 sums
    as a FLOAT list — bit-identical values (small exact integers), so
    the adapter's Arrow-batched mapInPandas path is hash-provable end
    to end. NULL/empty text zero-fills via the LEFT JOIN, matching the
    Python side's zero vector."""
    if dim < 2 or dim > 256 or dim & (dim - 1):
        raise ValueError(
            f"dim must be a power of two in [2, 256], got {dim}"
        )
    syn = dict(synonyms or {})
    if syn:
        # SQL-escape single quotes — synonym tokens like "don't" must
        # produce a valid (and non-injectable) string literal
        def q(s: str) -> str:
            return "'" + s.replace("'", "''") + "'"

        arms = " ".join(
            f"WHEN tok = {q(k)} THEN {q(v)}" for k, v in sorted(syn.items())
        )
        mapped = f"(CASE {arms} ELSE tok END)"
    else:
        mapped = "tok"
    norm = f"trim(lower(coalesce({text_col}, '')))"
    vsums = ",\n    ".join(
        f"sum(CASE WHEN b = {j} THEN s ELSE 0 END) AS v{j}"
        for j in range(dim)
    )
    vlist = ", ".join(f"coalesce(v{j}, 0)::FLOAT" for j in range(dim))
    return f"""
WITH __se_toks AS (
  SELECT {id_col}, unnest(string_split(
           regexp_replace({norm}, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'),
           ' ')) AS tok
  FROM {table}
), __se_contrib AS (
  SELECT {id_col},
         CAST(md5_number_lower({mapped}) & {dim - 1} AS INT) AS b,
         (2 * CAST((md5_number_lower({mapped}) >> 32) & 1 AS INT) - 1)
           AS s
  FROM __se_toks WHERE tok <> ''
), __se_agg AS (
  SELECT {id_col},
    {vsums}
  FROM __se_contrib GROUP BY {id_col}
)
SELECT d.{id_col} AS {id_col}, [{vlist}] AS {out_col}
FROM {table} d LEFT JOIN __se_agg USING ({id_col})
"""


def hashed_mlp_encoder(
    weights: dict,
    n_features: int = 256,
) -> Callable[[list[str]], "np.ndarray"]:
    """A NONTRIVIAL numpy encoder for at-volume adapter receipts and
    as the shape-reference for wiring real weight matrices: hashed
    token TF features -> tanh MLP -> L2-normalized embeddings.

    ``weights`` maps ``w1 (n_features, hidden)``, ``b1 (hidden,)``,
    ``w2 (hidden, dim)``, ``b2 (dim,)`` to EITHER plain numpy arrays
    (closure-shipped: pickled with every task) OR
    ``spark.sparkContext.broadcast(...)`` handles (shipped once per
    executor — the right spelling for real model weights; see module
    docstring). Each batch resolves handles via ``.value``, so the
    two spellings are output-identical (pinned in tests).

    Feature hashing uses zlib.crc32 — deterministic across executors
    (Python's builtin ``hash`` is salted per process) and cheap enough
    that the GEMM dominates. The batch path is one (batch, n_features)
    @ (n_features, hidden) @ (hidden, dim) chain — BLAS-bound, which
    is exactly the "throughput is model-bound, not Spark-bound" claim
    the stress receipt in SCALE.md measured."""
    import re
    import zlib

    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def encode(texts: list[str]) -> np.ndarray:
        w1 = getattr(weights["w1"], "value", weights["w1"])
        b1 = getattr(weights["b1"], "value", weights["b1"])
        w2 = getattr(weights["w2"], "value", weights["w2"])
        b2 = getattr(weights["b2"], "value", weights["b2"])
        feats = np.zeros((len(texts), n_features), dtype=np.float32)
        for i, t in enumerate(texts):
            for tok in ws.split((t or "").lower()):
                if tok:
                    feats[i, zlib.crc32(tok.encode()) % n_features] += 1.0
        h = np.tanh(feats @ w1 + b1)
        out = h @ w2 + b2
        norms = np.linalg.norm(out, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        return (out / norms).astype(np.float32)

    return encode


def make_mlp_weights(
    n_features: int = 256, hidden: int = 256, dim: int = 256, seed: int = 16
) -> dict:
    """Deterministic random MLP weights (numpy Generator) for tests
    and the stress receipt."""
    rng = np.random.default_rng(seed)
    return {
        "w1": rng.standard_normal((n_features, hidden)).astype(np.float32)
        / np.sqrt(n_features),
        "b1": rng.standard_normal(hidden).astype(np.float32) * 0.01,
        "w2": rng.standard_normal((hidden, dim)).astype(np.float32)
        / np.sqrt(hidden),
        "b2": rng.standard_normal(dim).astype(np.float32) * 0.01,
    }
