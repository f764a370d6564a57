"""Golden test for the BPE trainer: the query's 6-round result must
equal a straightforward in-memory reference implementation of
Sennrich-style BPE (weighted overlapping pair counts over the word-freq
table, lexicographic tie-break, greedy left-to-right merge application)
on a corpus that includes the overlapping-run trap ("aaaa" must merge to
[aa, aa], not [aa, a, a] — the case the oracle's doubled-boundary
string-replace encoding exists to get right). Also pins the trainers'
cost shape: the merge count costs no build job, and a word table over
the cap fails by name."""

from __future__ import annotations

from collections import Counter

import pytest

from cupertino_nvr_spark.plans import REGISTRY, llm
from cupertino_nvr_spark.plans.llm import _BPE_MERGES
from tests.conftest import SF_SMOKE
from tests.job_count import jobs_run

TOY_TEXT = (
    "low low low low low lower lower "
    "newest newest newest newest newest newest "
    "widest widest widest aaaa aaaa aaaa aaaa aaaa aaaa aaaa"
)


def _reference_bpe(words: dict[str, int], k: int):
    state = {tuple(w): f for w, f in words.items()}
    merges = []
    for _ in range(k):
        counts: Counter = Counter()
        for syms, f in state.items():
            for j in range(len(syms) - 1):
                counts[(syms[j], syms[j + 1])] += f
        if not counts:
            break
        (l, r), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((l, r, l + r, cnt))
        new_state: dict[tuple, int] = {}
        for syms, f in state.items():
            out, j = [], 0
            while j < len(syms):
                if j + 1 < len(syms) and syms[j] == l and syms[j + 1] == r:
                    out.append(l + r)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            key = tuple(out)
            new_state[key] = new_state.get(key, 0) + f
        state = new_state
    return merges


def test_bpe_trainer_matches_reference(spark, tmp_path):
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(1, TOY_TEXT, "en", "toy", len(TOY_TEXT))],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    got = [
        (r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in REGISTRY["docs_bpe_train_merges"]
        .spark(spark, sf_dir)
        .orderBy("merge_rank")
        .collect()
    ]
    words = Counter(TOY_TEXT.split())
    expected = _reference_bpe(dict(words), _BPE_MERGES)
    assert got == expected
    # the overlap trap is actually exercised: "aaaa" x7 makes (a, a) the
    # top first merge with OVERLAPPING count 3 per word...
    assert got[0] == ("a", "a", "aa", 21)
    # ...and greedy application leaves [aa, aa], so round 2's (aa, aa)
    # count is 7 — a fold that merged [aa, a, a] would report (aa, a)
    assert ("aa", "aa", "aaaa", 7) in got


@pytest.mark.parametrize(
    "name, merges_const",
    [
        ("docs_bpe_train_merges", "_BPE_MERGES"),
        ("docs_wordpiece_train_merges", "_WP_MERGES"),
    ],
)
def test_merge_count_adds_no_build_jobs(spark, monkeypatch, name, merges_const):
    """Merge rounds run in memory on the collected word table, so 30
    merges build with no more Spark jobs than 6."""

    def build(k):
        monkeypatch.setattr(llm, merges_const, k)
        return jobs_run(spark, lambda: REGISTRY[name].spark(spark, SF_SMOKE))

    _, jobs_6 = build(6)
    df, jobs_30 = build(30)
    assert df.count() > 6  # the larger constant took effect
    assert jobs_30 <= jobs_6


def test_word_table_over_the_cap_raises(spark, tmp_path, monkeypatch):
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(1, TOY_TEXT, "en", "toy", len(TOY_TEXT))],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.parquet(f"{sf_dir}/documents.parquet")
    n_words = len(set(TOY_TEXT.split()))
    monkeypatch.setattr(llm, "_TOKENIZER_MAX_WORDS", n_words - 1)
    with pytest.raises(ValueError, match=f"_TOKENIZER_MAX_WORDS={n_words - 1}"):
        REGISTRY["docs_bpe_train_merges"].spark(spark, sf_dir)
    monkeypatch.setattr(llm, "_TOKENIZER_MAX_WORDS", n_words)
    assert REGISTRY["docs_bpe_train_merges"].spark(spark, sf_dir).count() == _BPE_MERGES
