"""Seeded input generator for the benchmark workloads.

Writes parquet files with the column names and types of the repository's
test tables (``documents``, ``events``) and their value domains:

- documents: a Zipf-vocabulary corpus.  A fixed share of documents are
  near duplicates of an earlier original (its text plus one or two ``dup``
  words), so the dedup operators find clusters.
- events: five event types, ``props`` as ``{"k": n}`` JSON, timestamps
  ascending with ``event_id`` over thirty days from 2024-01-01, one user
  per ~67 events, exponential values rounded to cents.

The same seed and sizes give byte-identical files.  Generation is cached
per (workload, seed) by a marker file and is never timed.
"""

from __future__ import annotations

import json
import os
import shutil
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.55, 0.1125, 0.1125, 0.1125, 0.1125)
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
STOP_WORDS = ("the", "a")


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lowercase ASCII words; stop words rank first.

    Words are letters only, so the wc.go split rule (runs of letters)
    yields exactly the generated words."""
    letters = np.array(list(string.ascii_lowercase))
    words = list(STOP_WORDS)
    seen = set(words)
    while len(words) < size:
        for n in rng.integers(3, 11, size=size):
            w = "".join(rng.choice(letters, size=n))
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == size:
                    break
    return words


def documents(
    rng: np.random.Generator,
    n_docs: int,
    vocab: int,
    zipf_s: float,
    words_lo: int,
    words_hi: int,
    dup_frac: float,
) -> pa.Table:
    words = np.array(_vocabulary(rng, vocab), dtype=object)
    p = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    p /= p.sum()
    # evenly spaced lengths in seeded order: every seed has the same
    # number of words, so input size does not vary between seeds
    lengths = rng.permutation(np.linspace(words_lo, words_hi, n_docs).round().astype(int))
    ids = rng.choice(vocab, size=int(lengths.sum()), p=p)
    texts = []
    start = 0
    for n in lengths:
        texts.append(" ".join(words[ids[start : start + n]]))
        start += n
    # a fixed number of near duplicates, each of an original document, so
    # every seed gives the same number of clusters, each one original deep
    n_dups = round(dup_frac * n_docs)
    dup_ids = rng.choice(np.arange(1, n_docs), size=n_dups, replace=False)
    originals = np.setdiff1d(np.arange(n_docs), dup_ids)
    for i in dup_ids:
        src = texts[int(rng.choice(originals[originals < i]))]
        texts[i] = src + " dup" * int(rng.integers(1, 3))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n_docs, p=LANG_P), pa.string()),
            "source": pa.array(
                [f"src{k}" for k in rng.integers(0, 20, size=n_docs)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def events(rng: np.random.Generator, n: int) -> pa.Table:
    span_us = 30 * 86_400 * 1_000_000
    base_us = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00
    ts = base_us + np.sort(rng.integers(0, span_us, size=n))
    users = max(1, round(n / 66.7))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, size=n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, size=n), 2), pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)], pa.string()
            ),
        }
    )


def _properties(name: str, table: pa.Table, path: str) -> dict:
    props = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    if name == "documents":
        tokens = [w for t in table["text"].to_pylist() for w in t.split()]
        props.update(words=len(tokens), distinct_words=len(set(tokens)))
        props["files"] = table.num_rows  # one text file per document
    return props


def generate(out_dir: str, seed: int, tables: dict[str, dict]) -> dict:
    """Write each table in ``tables`` (name -> generator kwargs) under
    ``out_dir`` and return the per-table input properties.  Reuses a
    complete earlier generation with the same seed and sizes."""
    meta_path = os.path.join(out_dir, "_inputs.json")
    spec = {"seed": seed, "tables": tables}
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        if meta["spec"] == spec:
            return meta["properties"]
    # anything cached beside the inputs (verified fingerprints, text
    # fixtures) belongs to the old inputs
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    makers = {"documents": documents, "events": events}
    properties = {}
    for i, (name, kwargs) in enumerate(sorted(tables.items())):
        # one random stream per table, so resizing one table leaves the
        # others unchanged
        rng = np.random.default_rng([seed, i])
        table = makers[name](rng, **kwargs)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        properties[name] = _properties(name, table, path)
    with open(meta_path, "w") as fh:
        json.dump({"spec": spec, "properties": properties}, fh)
    return properties
