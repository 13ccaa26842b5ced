"""Seeded input generator: transcripts and query streams for each workload.

Everything is a pure function of ``--seed``. The engine only ever sees the
transcripts written here (as Parquet) and the query strings; the oracle works
from the same token-id arrays, never from anything the engine computed.

Tokens are ASCII ``[a-z0-9]+`` words, so the engine's tokenizer (NFKC, lower,
``[^\\W_]+``) returns exactly the generated token list for every turn.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 20_000
ZIPF_S = 1.05
# Zipf-Mandelbrot offset: keeps rank 0 from swallowing the corpus while the
# head stays stopword-like (the top term still lands in most turns).
ZIPF_Q = 2.7
# long-tailed turn lengths: lognormal around ~12 tokens, tail to 400
LEN_MU, LEN_SIGMA, LEN_MAX = np.log(12.0), 0.9, 400


def vocab_names(rng: np.random.Generator) -> np.ndarray:
    """Word for each frequency rank: a seeded permutation of fixed spellings,
    so which spelling is hot (and so which storage bucket it hashes to)
    changes with the seed."""
    base = np.array([f"w{np.base_repr(i, 36).lower()}" for i in range(VOCAB)], dtype=object)
    return base[rng.permutation(VOCAB)]


def _zipf_cdf() -> np.ndarray:
    p = 1.0 / (np.arange(VOCAB) + ZIPF_Q) ** ZIPF_S
    return np.cumsum(p / p.sum())


@dataclass
class Corpus:
    """Turns as flat token-rank arrays: turn i is ``ranks[off[i]:off[i+1]]``."""

    names: np.ndarray
    doc_ids: list[str]
    ranks: np.ndarray
    off: np.ndarray
    conv_ids: list[str] = field(default_factory=list)
    turn_idx: list[int] = field(default_factory=list)

    @property
    def n(self) -> int:
        return len(self.doc_ids)

    def texts(self) -> list[str]:
        words = self.names[self.ranks]
        return [" ".join(words[self.off[i]:self.off[i + 1]]) for i in range(self.n)]

    def concat(self, other: "Corpus") -> "Corpus":
        return Corpus(
            names=self.names,
            doc_ids=self.doc_ids + other.doc_ids,
            ranks=np.concatenate([self.ranks, other.ranks]),
            off=np.concatenate([self.off[:-1], other.off + self.off[-1]]),
            conv_ids=self.conv_ids + other.conv_ids,
            turn_idx=self.turn_idx + other.turn_idx,
        )


def make_corpus(
    rng: np.random.Generator,
    names: np.ndarray,
    n_turns: int,
    conv_prefix: str,
    spike_frac: float = 0.0,
    marker: int | None = None,
    marker_frac: float = 0.0,
) -> Corpus:
    """``n_turns`` turns in conversations of 8 turns. ``spike_frac`` of the turns
    are spikes: one mid/tail term, 1–3 times, nothing else (short dl, high
    single-term score — the block maxima WAND prunes against). ``marker`` (a
    rank outside the Zipf vocabulary) is appended to ``marker_frac`` of turns."""
    lens = np.clip(np.rint(rng.lognormal(LEN_MU, LEN_SIGMA, n_turns)), 1, LEN_MAX).astype(np.int64)
    spike = rng.random(n_turns) < spike_frac
    spike_len = rng.integers(1, 4, n_turns)
    lens = np.where(spike, spike_len, lens)
    off = np.zeros(n_turns + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    ranks = np.searchsorted(_zipf_cdf(), rng.random(int(off[-1])), side="right")
    ranks = np.minimum(ranks, VOCAB - 1)
    if spike.any():
        spike_rank = rng.integers(200, VOCAB, n_turns)
        owner = np.repeat(np.arange(n_turns), lens)
        ranks = np.where(spike[owner], spike_rank[owner], ranks)
    if marker is not None:
        has = rng.random(n_turns) < marker_frac
        has[rng.integers(0, n_turns)] = True  # at least one carrier
        new_lens = lens + has
        new_off = np.zeros(n_turns + 1, dtype=np.int64)
        np.cumsum(new_lens, out=new_off[1:])
        out = np.empty(int(new_off[-1]), dtype=np.int64)
        pos = np.arange(len(ranks)) + np.repeat(new_off[:-1] - off[:-1], lens)
        out[pos] = ranks
        out[new_off[1:][has] - 1] = marker
        ranks, off = out, new_off
    conv_ids = [f"{conv_prefix}{i // 8:06d}" for i in range(n_turns)]
    turn_idx = [i % 8 for i in range(n_turns)]
    doc_ids = [f"{c}:{t}" for c, t in zip(conv_ids, turn_idx)]
    return Corpus(names, doc_ids, ranks, off, conv_ids, turn_idx)


def with_markers(names: np.ndarray, n_markers: int, seed: int) -> np.ndarray:
    """Extend the spelling table with one marker word per delta: ranks
    ``VOCAB .. VOCAB+n_markers-1``, spelled so no Zipf word can collide."""
    extra = np.array([f"mk{seed:x}z{j}" for j in range(n_markers)], dtype=object)
    return np.concatenate([names, extra])


def write_parquet(corpus: Corpus, path: str) -> None:
    """Transcripts table (conv_id, turn_idx, role, text, tool, ts)."""
    n = corpus.n
    tbl = pa.table(
        {
            "conv_id": pa.array(corpus.conv_ids, pa.string()),
            "turn_idx": pa.array(corpus.turn_idx, pa.int32()),
            "role": pa.array(["user" if t % 2 == 0 else "assistant" for t in corpus.turn_idx], pa.string()),
            "text": pa.array(corpus.texts(), pa.string()),
            "tool": pa.nulls(n, pa.string()),
            "ts": pa.array(np.arange(n, dtype=np.int64) * 30_000_000 + 1_704_067_200_000_000, pa.timestamp("us", tz="UTC")),
        }
    )
    pq.write_table(tbl, path)


# ---- query streams -----------------------------------------------------

def serve_queries(rng: np.random.Generator, names: np.ndarray, df: np.ndarray, n: int) -> list[str]:
    """Fixed mix of single 1–4-term queries. Shapes cycle in a fixed order:
    hot, mid, tail, hot+mid, mid+tail+tail, hot+absent, 4-term mixed,
    absent-only. Terms come from narrow frequency-rank bands, so every
    seed's stream costs about the same: the seed changes which words, not
    how much work."""
    pools = {
        "hot": np.arange(0, 8),
        "mid": np.arange(150, 350),
        "tail": np.flatnonzero(df[:VOCAB] > 0)[3000:6000],
    }
    shapes = [
        ("hot",), ("mid",), ("tail",), ("hot", "mid"), ("mid", "tail", "tail"),
        ("hot", "absent"), ("hot", "mid", "tail", "tail"), ("absent",),
    ]
    out = []
    for i in range(n):
        words: list[str] = []
        for s in shapes[i % len(shapes)]:
            if s == "absent":
                words.append(f"zz{int(rng.integers(0, 1 << 30)):x}q")
                continue
            w = names[int(rng.choice(pools[s]))]
            while w in words:
                w = names[int(rng.choice(pools[s]))]
            words.append(w)
        out.append(" ".join(words))
    return out


def prune_queries(rng: np.random.Generator, names: np.ndarray, df: np.ndarray) -> list[tuple[str, int, str]]:
    """(shape, k, text) for the shapes block-max WAND exists for, plus one
    multi-hot shape it cannot prune. The hot terms are the three most
    frequent ranks and the rare one comes from a narrow rank band, so the
    work per shape is about the same for every seed."""
    rare = np.flatnonzero(df[:VOCAB] >= 3)
    rare = rare[(rare >= 3000) & (rare < 3500)]
    r = int(rng.choice(rare))
    return [
        ("hot_k10", 10, names[0]),
        ("rare_hot_k10", 10, f"{names[r]} {names[1]}"),
        ("multi_hot_k10", 10, " ".join(names[x] for x in (0, 1, 2))),
    ]
