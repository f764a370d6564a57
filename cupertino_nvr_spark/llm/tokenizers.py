"""Tokenizer trainers over a word-frequency table, in plain Python.

A trainer never needs the corpus, only its distinct words and their
counts: ``plans/llm.py`` collapses the corpus to that table in Spark and
collects it under a row cap, and everything here loops over the resulting
``dict[str, int]`` on the driver — no Spark job per merge or EM round.

- ``merge_train`` — the greedy pair-merge loop shared by BPE (objective
  ``pair_count``) and WordPiece (objective ``likelihood_micro``).
- ``wordpiece_vocab`` / ``wordpiece_tokens`` — BERT's greedy
  longest-match-first application, with the whole-word ``[UNK]`` rule.
- ``unigram_train`` — SentencePiece-style unigram-LM hard EM.

Each one reproduces its DuckDB oracle in ``plans/llm.py`` exactly: counts
are exact integers, every log-probability is an integer number of
micro-nats rounded half away from zero (SQL ``round``), and ties break as
the oracle's ``ORDER BY`` / struct ``MAX`` does.
"""

from __future__ import annotations

import math
from collections import Counter
from collections.abc import Callable
from decimal import ROUND_HALF_UP, Decimal

_MICRO = 1_000_000

# (left, right, pair count, score) — one learned merge, in rank order
Merge = tuple[str, str, int, int]


def _round_half_away(x: float) -> int:
    """``x`` rounded to an integer half away from zero, as SQL ``round``
    does (Python's ``round`` rounds half to even)."""
    return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def pair_count(cnt: int, left_cnt: int, right_cnt: int) -> int:
    """BPE objective: the pair's weighted occurrence count."""
    return cnt


def likelihood_micro(cnt: int, left_cnt: int, right_cnt: int) -> int:
    """WordPiece objective: ln(count(xy) / (count(x) count(y))) in
    micro-nats — prefers pairs whose parts rarely occur apart."""
    return _round_half_away(
        (math.log(cnt) - math.log(left_cnt) - math.log(right_cnt)) * _MICRO
    )


def _apply_merge(syms: list[str], left: str, right: str) -> list[str]:
    """Greedy left-to-right merge: [a, a, a, a] -> [aa, aa]."""
    out, j = [], 0
    while j < len(syms):
        if syms[j] == left and j + 1 < len(syms) and syms[j + 1] == right:
            out.append(left + right)
            j += 2
        else:
            out.append(syms[j])
            j += 1
    return out


def merge_train(
    words: dict[str, int], k: int, score: Callable[[int, int, int], int]
) -> tuple[list[Merge], dict[str, list[str]]]:
    """``k`` rounds of greedy pair merging (Sennrich et al. 2016) over the
    word table: count adjacent symbol pairs weighted by word frequency,
    merge the pair with the highest ``score(pair count, left count, right
    count)`` (ties on left, then right symbol), repeat. Returns the merges
    and each word's final segmentation. Stops early once no word has two
    symbols left; the oracle's unrolled rounds empty their word table
    there instead."""
    segs = {w: list(w) for w in words}
    merges: list[Merge] = []
    for _ in range(k):
        pairs: Counter = Counter()
        syms: Counter = Counter()
        for w, f in words.items():
            s = segs[w]
            for x in s:
                syms[x] += f
            for p in zip(s, s[1:]):
                pairs[p] += f
        if not pairs:
            break
        sc, left, right = min(
            (-score(c, syms[a], syms[b]), a, b) for (a, b), c in pairs.items()
        )
        merges.append((left, right, pairs[left, right], -sc))
        segs = {w: _apply_merge(s, left, right) for w, s in segs.items()}
    return merges, segs


def wordpiece_vocab(segs: dict[str, list[str]]) -> tuple[set[str], set[str]]:
    """(word-initial pieces, continuation pieces) of a trained WordPiece
    segmentation: every word's first symbol, resp. its later symbols
    (BERT's "##" class), plus the training alphabet in both classes so
    any in-alphabet word can fall back to single characters."""
    chars = {c for w in segs for c in w}
    init = {s[0] for s in segs.values() if s} | chars
    cont = {p for s in segs.values() for p in s[1:]} | chars
    return init, cont


def wordpiece_tokens(w: str, init: set[str], cont: set[str]) -> tuple[int, bool]:
    """(token count, is [UNK]) of ``w`` under greedy longest-match-first:
    at each position take the longest piece of the position's class. A
    position no piece matches makes the whole word one [UNK] token."""
    pos = n = 0
    while pos < len(w):
        vocab = init if pos == 0 else cont
        ln = next(
            (ln for ln in range(len(w) - pos, 0, -1) if w[pos : pos + ln] in vocab),
            0,
        )
        if not ln:
            return 1, True
        pos += ln
        n += 1
    return n, False


def _log_probs(counts: dict[str, int]) -> dict[str, int]:
    """M-step: each piece's ln(count / total) in micro-nats."""
    total = sum(counts.values())
    return {
        p: _round_half_away(math.log(c / total) * _MICRO) for p, c in counts.items()
    }


def _viterbi(w: str, lp: dict[str, int], max_piece: int) -> list[str] | None:
    """Highest-scoring segmentation of ``w`` into pieces of ``lp`` (summed
    micro-nat log-probs), ties preferring the longer last piece at every
    position; pieces come back end first. None when no segmentation
    exists."""
    # dp[j] = (best score of w[:j], length of its last piece)
    dp: list[tuple[int, int] | None] = [(0, 0)] + [None] * len(w)
    for j in range(1, len(w) + 1):
        dp[j] = max(
            (
                (dp[j - ln][0] + lp[w[j - ln : j]], ln)
                for ln in range(1, min(max_piece, j) + 1)
                if dp[j - ln] is not None and w[j - ln : j] in lp
            ),
            default=None,
        )
    if dp[len(w)] is None:
        return None
    pieces, j = [], len(w)
    while j > 0:
        ln = dp[j][1]
        pieces.append(w[j - ln : j])
        j -= ln
    return pieces


def unigram_train(
    words: dict[str, int], max_word: int, max_piece: int, seed_v: int, rounds: int
) -> tuple[dict[str, tuple[int, int]], dict[str, int]]:
    """Unigram-LM hard EM (Kudo 2018) over the words of 1..``max_word``
    characters. Seed vocabulary: the top ``seed_v`` substrings of at most
    ``max_piece`` characters by weighted count (ties on the piece), plus
    every character. Each round Viterbi-segments every word under the
    current log-probs (E-step) and re-estimates them as count / total
    (M-step). Returns the final piece -> (count, log-prob in micro-nats)
    and each word's piece count in the last round."""
    words = {w: f for w, f in words.items() if 1 <= len(w) <= max_word}
    seed: Counter = Counter()
    for w, f in words.items():
        for s in range(len(w)):
            for e in range(s + 1, min(s + max_piece, len(w)) + 1):
                seed[w[s:e]] += f
    top = sorted(seed.items(), key=lambda kv: (-kv[1], kv[0]))[:seed_v]
    counts = dict(top) | {p: c for p, c in seed.items() if len(p) == 1}
    n_pieces: dict[str, int] = {}
    for _ in range(rounds):
        lp = _log_probs(counts)
        counts, n_pieces = Counter(), {}
        for w, f in words.items():
            pieces = _viterbi(w, lp, max_piece)
            if pieces is None:
                continue
            n_pieces[w] = len(pieces)
            for p in pieces:
                counts[p] += f
    lp = _log_probs(counts)
    return {p: (c, lp[p]) for p, c in counts.items()}, n_pieces
