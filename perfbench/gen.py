"""Seeded, labeled transcript generator for the benchmark.

Self-contained on purpose: it imports nothing from the program, so a change
to the program (its own ``datagen.py`` included) cannot change the inputs the
benchmark measures. Every draw comes from ``numpy.random.Generator(PCG64)``
seeded from ``(seed, shape name)``; the same seed gives byte-identical
tables.

Each entity has a template: every third token is one of the entity's own
rare words, the rest come from a shared vocabulary. A conversation of the
entity perturbs the template (token drop, character typos), sometimes
repeats the previous conversation exactly, and sometimes carries the shared
hot token. Typos touch only the entity's own words: the program weighs a
token by ``N / df``, so the same typo of a shared word in two entities makes
a rare token they share and a near-1 cosine, which no threshold separates.
Tokens are then cut into turns.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOT_TOKEN = "commonhot"
_CONSONANTS = list("bcdfghjklmnpqrstvwz")
_VOWELS = list("aeiou")
_ROLES = ["user", "assistant", "tool"]
_TOOLS = ["search", "calculator", "browser", ""]
_BASE_TS = datetime(2024, 1, 1, tzinfo=timezone.utc)
TEMPLATE_TOKENS = 24  # every third one is one of the entity's own words
OWN_WORDS = 8
TURNS_PER_CONV = 6
DUP_FRACTION = 0.15  # conversations repeating the entity's previous one

TRANSCRIPTS_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)
LABELS_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("entity_id", pa.int64(), nullable=False),
    ]
)


@dataclass(frozen=True)
class Shape:
    """Corpus shape. Entity sizes (conversations per entity) follow Zipf(a)
    on [min_convs, max_convs] when ``zipf_a > 0``, else are uniform on it."""

    name: str
    n_convs: int
    shared_vocab: int
    min_convs: int = 2
    max_convs: int = 5
    zipf_a: float = 0.0
    shared_len: tuple[int, int] = (4, 9)  # shared word length range [lo, hi)
    typo_rate: float = 0.05
    drop_rate: float = 0.07
    hot_tokens: int = 1
    hot_fraction: float = 0.15  # of conversations per hot token, exact
                                # (duplicates of a conversation excepted)


def _word(rng: np.random.Generator, n: int) -> str:
    c = rng.integers(0, len(_CONSONANTS), n)
    v = rng.integers(0, len(_VOWELS), n)
    return "".join(_CONSONANTS[c[i]] if i % 2 == 0 else _VOWELS[v[i]] for i in range(n))


def _typo(rng: np.random.Generator, w: str) -> str:
    if len(w) < 2:
        return w
    kind, pos = int(rng.integers(0, 3)), int(rng.integers(0, len(w) - 1))
    if kind == 0:
        return w[:pos] + w[pos + 1] + w[pos] + w[pos + 2 :]
    if kind == 1:
        return w[:pos] + w[pos + 1 :]
    return w[:pos] + _CONSONANTS[int(rng.integers(0, len(_CONSONANTS)))] + w[pos + 1 :]


def entity_sizes(shape: Shape) -> list[int]:
    """Conversations per entity, summing to ``shape.n_convs``.

    Sizes are quantiles of the size distribution taken at a fixed
    low-discrepancy sequence, so they do not depend on the seed: seeds change
    the text, not how much work the corpus holds.
    """
    ks = np.arange(shape.min_convs, shape.max_convs + 1)
    w = ks.astype(float) ** -shape.zipf_a if shape.zipf_a > 0 else np.ones(len(ks))
    cdf = np.cumsum(w) / w.sum()
    sizes: list[int] = []
    total, i = 0, 0
    while total < shape.n_convs:
        u = (0.5 + i * 0.6180339887498949) % 1.0
        size = min(int(ks[np.searchsorted(cdf, u)]), shape.n_convs - total)
        sizes.append(size)
        total += size
        i += 1
    return sizes


class Corpus:
    """Entity templates for one (shape, seed); emits conversations on demand.

    Conversation ids are ``<prefix><n>``, ``n`` the conversation's position
    in the call.
    """

    def __init__(self, shape: Shape, seed: int):
        self.shape = shape
        self.rng = np.random.Generator(
            np.random.PCG64([seed, sum(map(ord, shape.name))])
        )
        rng = self.rng
        self.vocab = [_word(rng, int(rng.integers(*shape.shared_len))) for _ in range(shape.shared_vocab)]
        self.templates: list[list[str]] = []
        self.own: list[set[str]] = []
        self.sizes = entity_sizes(shape)
        for _ in self.sizes:
            self.templates.append(self._template())

    def _template(self) -> list[str]:
        s, rng = self.shape, self.rng
        own = [_word(rng, int(rng.integers(6, 11))) for _ in range(OWN_WORDS)]
        picks = rng.integers(0, len(self.vocab), TEMPLATE_TOKENS)
        self.own.append(set(own))
        return [
            own[(i // 3) % len(own)] if i % 3 == 0 else self.vocab[picks[i]]
            for i in range(TEMPLATE_TOKENS)
        ]

    def conversations(self, entities: list[int], prefix: str):
        """One conversation per listed entity -> (turn rows, label rows)."""
        s, rng = self.shape, self.rng
        turns, labels = [], []
        prev: dict[int, list[str]] = {}
        n_hot = round(s.hot_fraction * len(entities))
        hot = [
            set(rng.choice(len(entities), size=n_hot, replace=False).tolist())
            for _ in range(s.hot_tokens)
        ]
        for n, ent in enumerate(entities):
            conv_id = f"{prefix}{n:07d}"
            if ent in prev and rng.random() < DUP_FRACTION:
                tokens = list(prev[ent])
            else:
                own = self.own[ent]
                tokens = [
                    _typo(rng, w) if w in own and rng.random() < s.typo_rate else w
                    for w in self.templates[ent]
                    if rng.random() >= s.drop_rate
                ] or [self.templates[ent][0]]
                tokens += [f"{HOT_TOKEN}{h or ''}" for h in range(s.hot_tokens) if n in hot[h]]
            prev[ent] = tokens
            per_turn = max(1, -(-len(tokens) // TURNS_PER_CONV))
            for t, i in enumerate(range(0, len(tokens), per_turn)):
                role = _ROLES[t % 3]
                turns.append(
                    (
                        conv_id,
                        t,
                        role,
                        " ".join(tokens[i : i + per_turn]),
                        _TOOLS[t % 4] if role == "tool" else "",
                        int(n * 60 + t) * 1_000_000,
                    )
                )
            labels.append((conv_id, ent))
        return turns, labels

    def base_entities(self) -> list[int]:
        """Every entity repeated by its size, in entity order."""
        return [e for e, k in enumerate(self.sizes) for _ in range(k)]


def write_tables(turns, labels, out_dir: str) -> dict:
    """Write ``transcripts`` and ``labels`` parquet under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    cols = list(zip(*turns))
    epoch_us = int(_BASE_TS.timestamp() * 1_000_000)
    t = pa.table(
        [
            pa.array(cols[0], pa.string()),
            pa.array(cols[1], pa.int32()),
            pa.array(cols[2], pa.string()),
            pa.array(cols[3], pa.string()),
            pa.array(cols[4], pa.string()),
            pa.array([epoch_us + x for x in cols[5]], pa.timestamp("us", tz="UTC")),
        ],
        schema=TRANSCRIPTS_SCHEMA,
    )
    lc = list(zip(*labels))
    lab = pa.table(
        [pa.array(lc[0], pa.string()), pa.array(lc[1], pa.int64())],
        schema=LABELS_SCHEMA,
    )
    pq.write_table(t, os.path.join(out_dir, "transcripts.parquet"))
    pq.write_table(lab, os.path.join(out_dir, "labels.parquet"))
    return {
        "turns": t.num_rows,
        "conversations": lab.num_rows,
        "entities": len(set(lc[1])),
        "bytes": sum(
            os.path.getsize(os.path.join(out_dir, f))
            for f in ("transcripts.parquet", "labels.parquet")
        ),
    }
