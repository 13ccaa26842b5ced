"""Independent BM25 oracle over the generator's own token lists (numpy).

BM25 with k1=1.2, b=0.75, idf = ln((N - df + 0.5) / (df + 0.5) + 1), ranking
score DESC then doc_id ASC. Per-doc scores are summed in sorted-term order
starting from 0.0, the order the engine's deterministic fold uses, so scores
agree to the last bit wherever the two ``log`` implementations do.

Nothing here reads the engine's relations: the oracle is built from
:class:`gen.Corpus` before the timed window starts.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import numpy as np

from gen import Corpus, make_corpus, vocab_names

K1, B = 1.2, 0.75
# Relative score tolerance between engine and oracle. Both compute in float64
# with the same operation order; only ``log`` may differ, by an ulp or so
# (~1e-16 relative), so 1e-9 is loose enough never to flag a correct engine
# and tight enough that any formula or statistics error shows.
REL_TOL = 1e-9


class Bm25Oracle:
    def __init__(self, corpus: Corpus):
        n = corpus.n
        self.n = n
        self.names = corpus.names
        self.rank_of = {w: i for i, w in enumerate(corpus.names)}
        self.doc_ids = np.array(corpus.doc_ids, dtype=object)
        dl = np.diff(corpus.off)
        self.dl = dl.astype(np.float64)
        self.avgdl = float(int(dl.sum()) / n)
        owner = np.repeat(np.arange(n, dtype=np.int64), dl)
        keys, tf = np.unique(corpus.ranks * n + owner, return_counts=True)
        self.p_term = keys // n
        self.p_doc = keys % n
        self.p_tf = tf.astype(np.float64)
        self.df = np.bincount(self.p_term, minlength=len(corpus.names))
        self.start = np.searchsorted(self.p_term, np.arange(len(corpus.names) + 1))
        # position of each doc in doc_id string order (the ASC tiebreak)
        self.doc_pos = np.empty(n, dtype=np.int64)
        self.doc_pos[np.argsort(self.doc_ids.astype(str), kind="stable")] = np.arange(n)

    def scores(self, text: str) -> tuple[np.ndarray, np.ndarray]:
        """(matched doc indices, their scores) for a whitespace query."""
        acc = np.zeros(self.n)
        hit = np.zeros(self.n, dtype=bool)
        for w in sorted(set(text.split())):
            r = self.rank_of.get(w)
            if r is None or self.df[r] == 0:
                continue
            lo, hi = self.start[r], self.start[r + 1]
            d, tf = self.p_doc[lo:hi], self.p_tf[lo:hi]
            df = float(self.df[r])
            idf = np.log((float(self.n) - df + 0.5) / (df + 0.5) + 1.0)
            norm = tf + K1 * (1.0 - B + B * self.dl[d] / self.avgdl)
            acc[d] += idf * tf * (K1 + 1.0) / norm
            hit[d] = True
        m = np.flatnonzero(hit)
        return m, acc[m]

    def topk(self, text: str, k: int) -> list[tuple[str, float]]:
        m, s = self.scores(text)
        order = np.lexsort((self.doc_pos[m], -s))[:k]
        return [(self.doc_ids[m[i]], float(s[i])) for i in order]

    def score_map(self, text: str) -> dict[str, float]:
        m, s = self.scores(text)
        return {self.doc_ids[i]: float(v) for i, v in zip(m, s)}

    def docs_with(self, word: str) -> set[str]:
        r = self.rank_of[word]
        return {self.doc_ids[i] for i in self.p_doc[self.start[r]:self.start[r + 1]]}


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def check_topk(
    rows: list[tuple[int, str, float]],
    oracle: Bm25Oracle,
    text: str,
    k: int,
    want: list[tuple[str, float]],
) -> bool:
    """Engine rows (rank, doc_id, score) against ``want``, the oracle's
    top-k for ``text`` computed before the timed window.

    Holds when: the row count is min(k, matched docs); ranks run 1..n; the
    engine's own order is score DESC with exact ties by doc_id ASC; each
    returned score is within REL_TOL of the oracle's score for that doc; and
    the doc_id at each rank is the oracle's, except where the two docs'
    oracle scores are within REL_TOL (a near-tie the two ``log`` twins may
    order differently)."""
    rows = sorted(rows)
    if len(rows) != len(want) or [r[0] for r in rows] != list(range(1, len(rows) + 1)):
        return False
    for (_, d0, s0), (_, d1, s1) in zip(rows, rows[1:]):
        if not (s0 > s1 or (s0 == s1 and d0 < d1)):
            return False
    if [r[1] for r in rows] == [d for d, _ in want]:
        return all(_close(r[2], s) for r, (_, s) in zip(rows, want))
    full = oracle.score_map(text)
    return all(
        r[1] in full and _close(r[2], full[r[1]]) and _close(full[r[1]], s)
        for r, (_, s) in zip(rows, want)
    )


def self_check(seed: int, repo_root: str) -> bool:
    """This oracle against the repository's pure-Python reference
    (``tests/oracle.py``) on a tiny generated corpus: same ranked doc_ids,
    scores within REL_TOL."""
    spec = importlib.util.spec_from_file_location(
        "_ref_oracle", os.path.join(repo_root, "tests", "oracle.py")
    )
    ref_mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = ref_mod  # dataclasses resolve annotations through it
    spec.loader.exec_module(ref_mod)
    rng = np.random.default_rng([seed, 7])
    names = vocab_names(rng)
    tiny = make_corpus(rng, names, 400, "sc", spike_frac=0.1)
    ours = Bm25Oracle(tiny)
    ref = ref_mod.oracle_from_rows(list(zip(tiny.conv_ids, tiny.turn_idx, tiny.texts())))
    texts = tiny.texts()
    # hot, mid and absent words, plus the first word of two turns (every
    # turn has at least one)
    words = [names[0], names[1], names[7], names[150], "zzabsent",
             texts[3].split()[0], texts[4].split()[0]]
    queries = words + [f"{words[0]} {words[3]}", f"{words[2]} {words[5]} {words[6]}"]
    for q in queries:
        mine = ours.topk(q, 25)
        theirs = [(d, s) for _, d, s in ref.topk(q, 25)]
        if [d for d, _ in mine] != [d for d, _ in theirs]:
            return False
        if not all(_close(a, b) for (_, a), (_, b) in zip(mine, theirs)):
            return False
    return True
