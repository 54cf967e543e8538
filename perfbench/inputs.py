"""Seeded input generators. Same seed, same inputs; nothing here imports
the engine, so a change to the engine's own synthesizers cannot move them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

WORDS = (
    "spark line column order small sort batch part vector scan fast query agg "
    "slow value filter customer string river bridge market station street park "
    "school museum harbour tower garden square road tram bus cafe library "
    "hospital theatre castle church hill lake"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """(doc_id, text, lang): the source documents the pages table is
    synthesized from. doc ids are offset by the seed, so urls (and the
    coordinates the engine derives from them) differ per seed."""
    rng = np.random.default_rng([seed, 1])
    n_words = rng.integers(6, 70, n_docs)
    words = np.asarray(WORDS)[rng.integers(0, len(WORDS), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    texts = [" ".join(words[e - n : e]) for n, e in zip(n_words, ends)]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64) + seed * 1_000_000,
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        }
    )


def cdc_batch(seed: int, lat: np.ndarray, lon: np.ndarray, frac: float = 0.01) -> pd.DataFrame:
    """(lat, lon, op): deletes of ``frac`` of the given points (op -1) and
    as many inserts (op +1) jittered around other existing points."""
    rng = np.random.default_rng([seed, 4])
    k = max(1, int(round(len(lat) * frac)))
    gone = rng.choice(len(lat), k, replace=False)
    near = rng.choice(len(lat), k, replace=True)
    ins_lat = lat[near] + rng.uniform(-0.01, 0.01, k)
    ins_lon = lon[near] + rng.uniform(-0.01, 0.01, k)
    return pd.DataFrame(
        {
            "lat": np.concatenate([lat[gone], ins_lat]),
            "lon": np.concatenate([lon[gone], ins_lon]),
            "op": np.concatenate([np.full(k, -1), np.full(k, 1)]).astype(np.int32),
        }
    )
