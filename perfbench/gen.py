"""Seeded message generator for the streaming benchmark.

Each input file is a parquet table ``(line string, ts timestamp[us],
event_id bigint)`` where ``line`` is the reference's wire format
``channel,user,text``. Text tokens are drawn from the NLP layer's own
vocabularies (``nlp.LEXICON``, ``nlp.ENTITIES``, ``nlp.CATEGORIES``) plus
filler words, so sentiment, entity and category paths all see real hits.

The same seed and spec give byte-identical files. Event time advances by
``event_seconds_per_file`` per file and never goes back across files;
with ``shuffle_within_file`` the rows of one file are permuted, so event
time is out of order inside a file only.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sparksent import nlp

FILLER = ("the", "a", "of", "and", "to", "is", "we", "it", "on", "for", "this", "that")
FILLER_SHARE = 0.4  # share of tokens drawn from FILLER
TOKENS_PER_MESSAGE = (4, 16)  # inclusive range
BASE_EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z
SENTINEL_EPOCH_S = 1_893_456_000  # 2030-01-01T00:00:00Z


@dataclass(frozen=True)
class Spec:
    channels: int
    users: int
    user_zipf_s: float | None  # Zipf exponent of user popularity; None: uniform
    rows_per_file: int
    event_seconds_per_file: float
    shuffle_within_file: bool

    @classmethod
    def from_dict(cls, d: dict) -> Spec:
        return cls(**{k: d[k] for k in cls.__dataclass_fields__})


def vocabulary() -> list[str]:
    """Signal vocabulary, deduplicated in a fixed order."""
    words = list(nlp.LEXICON) + list(nlp.ENTITIES) + list(nlp.CATEGORIES)
    return list(dict.fromkeys(words))


class Generator:
    """Produces file ``i`` of a stream; file ``i`` depends only on
    (seed, spec, i), so files can be made in any order."""

    def __init__(self, spec: Spec, seed: int):
        self.spec = spec
        self.seed = seed
        self.signal = np.array(vocabulary(), dtype=object)
        self.filler = np.array(FILLER, dtype=object)
        self.user_p = None
        if spec.user_zipf_s is not None:
            w = 1.0 / np.arange(1, spec.users + 1, dtype=np.float64) ** spec.user_zipf_s
            self.user_p = w / w.sum()

    def rows(self, i: int) -> dict[str, np.ndarray]:
        """Columns of file ``i``: channel, user, text, ts_us, event_id."""
        s = self.spec
        rng = np.random.default_rng([self.seed, i])
        n = s.rows_per_file
        channels = rng.integers(0, s.channels, n)
        if self.user_p is None:
            users = rng.integers(0, s.users, n)
        else:
            users = rng.choice(s.users, size=n, p=self.user_p)
        n_tok = rng.integers(TOKENS_PER_MESSAGE[0], TOKENS_PER_MESSAGE[1] + 1, n)
        total = int(n_tok.sum())
        is_filler = rng.random(total) < FILLER_SHARE
        toks = np.where(
            is_filler,
            self.filler[rng.integers(0, len(self.filler), total)],
            self.signal[rng.integers(0, len(self.signal), total)],
        )
        bounds = np.concatenate([[0], np.cumsum(n_tok)])
        text = [" ".join(toks[bounds[k]:bounds[k + 1]]) for k in range(n)]
        t0 = BASE_EPOCH_S + i * s.event_seconds_per_file
        offs = np.sort(rng.random(n)) * s.event_seconds_per_file
        ts_us = (np.floor((t0 + offs) * 1e6)).astype(np.int64)
        event_id = np.arange(n, dtype=np.int64) + i * n
        if s.shuffle_within_file:
            perm = rng.permutation(n)
            ts_us, event_id = ts_us[perm], event_id[perm]
        return {
            "channel": np.array([f"c{c}" for c in channels], dtype=object),
            "user": users.astype(np.int64),
            "text": np.array(text, dtype=object),
            "ts_us": ts_us,
            "event_id": event_id,
        }

    def write(self, i: int, path: str) -> dict[str, np.ndarray]:
        r = self.rows(i)
        write_lines(r, path)
        return r


def to_lines(r: dict[str, np.ndarray]) -> list[str]:
    return [f"{c},{u},{t}" for c, u, t in zip(r["channel"], r["user"], r["text"])]


def write_lines(r: dict[str, np.ndarray], path: str) -> None:
    table = pa.table(
        {
            "line": pa.array(to_lines(r), pa.string()),
            "ts": pa.array(r["ts_us"], pa.timestamp("us")),
            "event_id": pa.array(r["event_id"], pa.int64()),
        }
    )
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def sentinel_rows() -> dict[str, np.ndarray]:
    """A far-future row that advances the watermark past every real
    window (the equivalence suite's sentinel)."""
    return {
        "channel": np.array(["__sentinel__"], dtype=object),
        "user": np.array([-1], dtype=np.int64),
        "text": np.array([""], dtype=object),
        "ts_us": np.array([SENTINEL_EPOCH_S * 1_000_000], dtype=np.int64),
        "event_id": np.array([10**15], dtype=np.int64),
    }


def hit_shares(rows: list[dict[str, np.ndarray]]) -> tuple[float, float, int]:
    """(share of messages with a lexicon hit, share with an entity hit,
    message count) over the given files."""
    lex, ent = set(nlp.LEXICON), set(nlp.ENTITIES)
    n = n_lex = n_ent = 0
    for r in rows:
        for t in r["text"]:
            toks = set(t.split(" "))
            n += 1
            n_lex += bool(toks & lex)
            n_ent += bool(toks & ent)
    return n_lex / max(n, 1), n_ent / max(n, 1), n
