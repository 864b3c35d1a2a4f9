"""Seeded benchmark inputs, materialized to parquet once per (workload, seed, size).

The program under test only ever reads these files. Generation runs before
any timed region, and a second run with the same key reuses the files.

- Change logs come from ``sonic_etl_spark.log.synthesize_change_events``
  (8 log partitions, so one replay batch holds 8 x chunk events).
- Curator documents come from :func:`write_docs`, a plain-Python generator:
  every text is drawn fresh from a seeded vocabulary, so nothing repeats
  with the doc id, and the frames the curator reads carry no lazy lineage.
"""

from __future__ import annotations

import os
import random
import shutil
import string

import pyarrow as pa
import pyarrow.parquet as pq

LOG_PARTITIONS = 8

# curator corpus shape: share of each document kind among arrivals
EXACT_DUP_SHARE = 0.03
NEAR_DUP_SHARE = 0.03
LOW_QUALITY_SHARE = 0.02
VOCAB_SIZE = 4000
WORDS_MIN, WORDS_MAX = 40, 80


def _publish(tmp: str, final: str) -> str:
    """Move a finished tmp dir into place, so a crash never leaves a half
    input that a later run would take for a cached one."""
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


def write_change_log(spark, path: str, n_events: int, seed: int,
                     poison_fraction: float = 0.0) -> str:
    """Materialize ``n_events`` synthesized change events to ``path``."""
    from sonic_etl_spark.log import synthesize_change_events

    if os.path.isdir(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    synthesize_change_events(
        spark, n_events, seed=seed, n_partitions=LOG_PARTITIONS,
        poison_fraction=poison_fraction,
    ).write.parquet(tmp)
    return _publish(tmp, path)


def _vocab(rng: random.Random) -> list[str]:
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        words.add("".join(rng.choices(string.ascii_lowercase, k=rng.randint(3, 9))))
    return sorted(words)


def doc_texts(seed: int, n_docs: int) -> list[str]:
    """Arrival-ordered document texts.

    About 3% exact copies and 3% one-word edits (near duplicates) of an
    earlier arrival, and 2% three-word texts that fail the quality floor;
    the rest are fresh 40-80 word texts.
    """
    rng = random.Random(seed)
    vocab = _vocab(rng)
    texts: list[str] = []
    for i in range(n_docs):
        roll = rng.random()
        if i and roll < EXACT_DUP_SHARE:
            text = texts[rng.randrange(i)]
        elif i and roll < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            words = texts[rng.randrange(i)].split(" ")
            words[rng.randrange(len(words))] = rng.choice(vocab)
            text = " ".join(words)
        elif roll < EXACT_DUP_SHARE + NEAR_DUP_SHARE + LOW_QUALITY_SHARE:
            text = " ".join(rng.choices(vocab, k=3))
        else:
            text = " ".join(rng.choices(vocab, k=rng.randint(WORDS_MIN, WORDS_MAX)))
        texts.append(text)
    return texts


def write_docs(path: str, seed: int, n_batches: int, batch_docs: int) -> list[str]:
    """Write ``n_batches`` arrival batches of ``batch_docs`` docs, one parquet
    file each, and return the files in arrival order.

    ``doc_id = off = 3 * arrival index``: offsets grow across batches as
    ``IncrementalCurator.apply`` requires, and ``doc_id % 3 == 0`` makes the
    driver gate's offset rule in ``_incr_curation_sql`` give the same ``off``,
    so that SQL is the oracle unchanged.
    """
    files = [os.path.join(path, f"batch-{b:04d}.parquet") for b in range(n_batches)]
    if os.path.isdir(path):
        return files
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    texts = doc_texts(seed, n_batches * batch_docs)
    for b in range(n_batches):
        idx = range(b * batch_docs, (b + 1) * batch_docs)
        ids = [3 * i for i in idx]
        pq.write_table(
            pa.table({
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([texts[i] for i in idx], pa.string()),
                "off": pa.array(ids, pa.int64()),
            }),
            os.path.join(tmp, os.path.basename(files[b])),
        )
    _publish(tmp, path)
    return files
