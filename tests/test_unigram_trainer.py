"""Golden test for the unigram-LM (SentencePiece-style) trainer: the
query's 2-round hard-EM result must equal a straightforward
in-memory reference (seed = top-V substrings + all chars, Viterbi E-step
over fixed-point micro-nat log-probs with the longer-piece tiebreak,
count/total M-step) on a corpus that exercises the edges: a word longer
than the surface cap (excluded from training, reported by the segment
query), heavy repetition (a multi-char piece must beat its chars), and
score ties."""

from __future__ import annotations

import math
from collections import Counter

from cupertino_nvr_spark.plans import REGISTRY
from cupertino_nvr_spark.plans.llm import (
    _UNI_LP_SCALE,
    _UNI_MAXP,
    _UNI_MAXW,
    _UNI_ROUNDS,
    _UNI_SEED_V,
)

TOY_TEXT = (
    "banana banana banana banana bandana bandana "
    "an an an ana nab extraordinarily "
    "scan scan scan scanner scanner"
)


def _lp(cnt: int, total: int) -> int:
    # fixed-point micro-nats, half-away-from-zero like Spark/DuckDB round
    x = math.log(cnt / total) * _UNI_LP_SCALE
    return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))


def _viterbi(w: str, vocab: dict[str, int]) -> list[str] | None:
    # dp[j] = (score, best_len); ties prefer the longer piece
    dp: list[tuple[int, int] | None] = [None] * (len(w) + 1)
    dp[0] = (0, 0)
    for j in range(1, len(w) + 1):
        best = None
        for ln in range(1, min(_UNI_MAXP, j) + 1):
            prior = dp[j - ln]
            piece = w[j - ln : j]
            if prior is None or piece not in vocab:
                continue
            cand = (prior[0] + vocab[piece], ln)
            if best is None or cand > best:
                best = cand
        dp[j] = best
    if dp[len(w)] is None:
        return None
    pieces, j = [], len(w)
    while j > 0:
        ln = dp[j][1]
        pieces.append(w[j - ln : j])
        j -= ln
    return pieces


def _reference_unigram(words: dict[str, int]):
    words = {w: f for w, f in words.items() if 1 <= len(w) <= _UNI_MAXW}
    seed: Counter = Counter()
    for w, f in words.items():
        for s in range(len(w)):
            for ln in range(1, _UNI_MAXP + 1):
                if s + ln <= len(w):
                    seed[w[s : s + ln]] += f
    top = sorted(seed.items(), key=lambda kv: (-kv[1], kv[0]))[:_UNI_SEED_V]
    v0 = dict(top) | {p: c for p, c in seed.items() if len(p) == 1}
    total = sum(v0.values())
    vocab = {p: _lp(c, total) for p, c in v0.items()}
    counts = None
    wp = None
    for _ in range(_UNI_ROUNDS):
        counts = Counter()
        wp = {}
        for w, f in words.items():
            pieces = _viterbi(w, vocab)
            assert pieces is not None, w
            wp[w] = len(pieces)
            for p in pieces:
                counts[p] += f
        total = sum(counts.values())
        vocab = {p: _lp(c, total) for p, c in counts.items()}
    return dict(counts), vocab, wp


def _write_toy(spark, tmp_path) -> str:
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(1, TOY_TEXT, "en", "toy", len(TOY_TEXT))],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.parquet(f"{sf_dir}/documents.parquet")
    return sf_dir


def test_unigram_trainer_matches_reference(spark, tmp_path):
    sf_dir = _write_toy(spark, tmp_path)
    got = {
        r.piece: (r.cnt, r.lp_micro)
        for r in REGISTRY["docs_unigram_lm_train"].spark(spark, sf_dir).collect()
    }
    counts, vocab, _ = _reference_unigram(Counter(TOY_TEXT.split()))
    assert got == {p: (counts[p], vocab[p]) for p in counts}
    # repetition actually shaped the vocab: a multi-char piece survived EM
    assert any(len(p) > 1 for p in got), got


def test_unigram_segment_reports_long_words(spark, tmp_path):
    sf_dir = _write_toy(spark, tmp_path)
    rows = REGISTRY["docs_unigram_segment"].spark(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    words = TOY_TEXT.split()
    eligible = [w for w in words if len(w) <= _UNI_MAXW]
    assert r.n_long_words == len(words) - len(eligible) == 1  # extraordinarily
    assert r.n_words == len(eligible)
    _, _, wp = _reference_unigram(Counter(words))
    assert r.n_pieces == sum(wp[w] for w in eligible)


def test_tokenizer_fertility_shapes(spark, tmp_path):
    sf_dir = _write_toy(spark, tmp_path)
    rows = {
        r.tokenizer: r
        for r in REGISTRY["docs_tokenizer_fertility"].spark(spark, sf_dir).collect()
    }
    assert set(rows) == {"bpe", "unigram", "wordpiece"}
    # same eligible word multiset on all three legs
    for leg in ("unigram", "wordpiece"):
        assert rows["bpe"].n_words == rows[leg].n_words
        assert rows["bpe"].n_chars == rows[leg].n_chars
    for r in rows.values():
        assert r.n_units >= r.n_words  # every word is >= 1 unit
        assert r.n_units <= r.n_chars  # and <= its characters


def _brute_best(w: str, vocab: dict[str, int]):
    """All segmentations of w into vocab pieces (len <= _UNI_MAXP),
    scored by summed micro-nat log-probs; best by (score, then the DP's
    greedy longer-piece tiebreak encoded as the lexicographically LAST
    reversed-length vector among score ties)."""
    segs = []

    def rec(pos, acc):
        if pos == len(w):
            segs.append(list(acc))
            return
        for ln in range(1, min(_UNI_MAXP, len(w) - pos) + 1):
            piece = w[pos : pos + ln]
            if piece in vocab:
                acc.append(piece)
                rec(pos + ln, acc)
                acc.pop()

    rec(0, [])
    if not segs:
        return None
    return max(
        segs,
        key=lambda s: (
            sum(vocab[p] for p in s),
            # the DP prefers the longer piece at every position from the
            # END backwards: encode as the tuple of piece lengths
            # right-to-left
            tuple(len(p) for p in reversed(s)),
        ),
    )


def test_viterbi_matches_bruteforce_enumeration():
    """Property: on every word up to 7 chars over a small alphabet with a
    randomized-but-deterministic vocab, the reference Viterbi (which the
    trainer's DP is golden-pinned to) must return a maximum-score
    segmentation, and its score must equal the brute-force max."""
    import itertools
    import random

    rng = random.Random(1234)
    alphabet = "abc"
    pieces = [
        "".join(p)
        for ln in range(1, _UNI_MAXP + 1)
        for p in itertools.product(alphabet, repeat=ln)
    ]
    # vocab: all single chars (coverage) + a random half of longer pieces
    vocab = {p: -rng.randint(1_000_000, 20_000_000) for p in pieces
             if len(p) == 1 or rng.random() < 0.5}
    checked = 0
    for ln in range(1, 8):
        for tup in itertools.product(alphabet, repeat=ln):
            w = "".join(tup)
            if rng.random() > 120 / (3 ** ln):  # sample the larger spaces
                continue
            got = _viterbi(w, vocab)  # backtrace order: END piece first
            want = _brute_best(w, vocab)  # forward order
            assert got is not None and want is not None, w
            gs = sum(vocab[p] for p in got)
            ws = sum(vocab[p] for p in want)
            assert gs == ws, (w, got, want)
            # the tiebreak is exactly the backward longer-piece rule
            assert tuple(len(p) for p in got) == tuple(
                len(p) for p in reversed(want)
            ), (w, got, want)
            checked += 1
    assert checked > 150, checked
