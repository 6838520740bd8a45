"""BPE merge training: hand-computed merges on a crafted corpus, exact
agreement with a pure-Python reference over a random-ish fixture, and
the registry query's shape."""

from __future__ import annotations

from collections import Counter

import clinvar_pipeline_spark.queries_llm as ql
from clinvar_pipeline_spark.operators.bpe import (
    train_bpe_merges,
    word_frequencies,
)


def _ref_bpe(word_freqs: dict[str, int], num_merges: int):
    """Pure-Python reference: identical semantics (left-to-right
    non-overlapping merge, lexicographic tie-break)."""
    syms = {w: [c for c in w] for w in word_freqs}
    merges = []
    for _ in range(num_merges):
        counts: Counter = Counter()
        for w, f in word_freqs.items():
            s = syms[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += f
        if not counts:
            break
        # deterministic: max count, then lexicographically SMALLEST pair
        top = max(counts.values())
        pair = min(p for p, c in counts.items() if c == top)
        merges.append((pair[0], pair[1], counts[pair]))
        a, b = pair
        for w in syms:
            s, res, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(s[i])
                    i += 1
            syms[w] = res
    return merges


def test_bpe_hand_computed(spark):
    words = spark.createDataFrame(
        [("aaab", 3), ("ab", 1)], "word string, freq long"
    )
    got = train_bpe_merges(words, num_merges=3)
    # round 1: (a,a) count 6 beats (a,b) count 4
    # round 2: aaab=[aa,a,b] -> (a,b) count 3+1=4 beats (aa,a) 3
    # round 3: aaab=[aa,ab], ab=[ab] -> (aa,ab) count 3
    assert got == [("a", "a", 6), ("a", "b", 4), ("aa", "ab", 3)]


def test_bpe_matches_reference(spark):
    freqs = {
        "spark": 5, "spar": 2, "park": 7, "ark": 3, "bar": 4,
        "barks": 1, "sparse": 2,
    }
    words = spark.createDataFrame(
        list(freqs.items()), "word string, freq long"
    )
    got = train_bpe_merges(words, num_merges=6)
    assert got == _ref_bpe(freqs, 6)


def test_bpe_batched_matches_reference_interacting(spark):
    """Batched rounds must be bit-identical to sequential training even
    when top pairs interact heavily. A 2-letter alphabet maximizes
    conflicts (chained pairs, merged strings colliding with existing
    symbols) — the batch selector must degrade to smaller batches, not
    drift."""
    import random

    for seed in (0, 1, 7):
        rng = random.Random(seed)
        freqs = {}
        for _ in range(40):
            w = "".join(rng.choice("ab") for _ in range(rng.randint(1, 6)))
            freqs[w] = freqs.get(w, 0) + rng.randint(1, 9)
        words = spark.createDataFrame(
            list(freqs.items()), "word string, freq long"
        )
        for bs in (1, 4, 8):
            got = train_bpe_merges(words, num_merges=12, batch_size=bs)
            assert got == _ref_bpe(freqs, 12), (seed, bs)


def test_bpe_batched_matches_reference_wide_alphabet(spark):
    """Disjoint-symbol corpora are the best case for batching (whole
    batches accepted at once) — results must still match sequential."""
    import random

    rng = random.Random(3)
    freqs = {}
    for _ in range(60):
        w = "".join(
            rng.choice("abcdefghijklmnop") for _ in range(rng.randint(2, 8))
        )
        freqs[w] = freqs.get(w, 0) + rng.randint(1, 20)
    words = spark.createDataFrame(
        list(freqs.items()), "word string, freq long"
    )
    got = train_bpe_merges(words, num_merges=10, batch_size=8)
    assert got == _ref_bpe(freqs, 10)


def test_bpe_registry_query_shape(spark):
    out = ql.q_bpe_merges(spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 8
    assert [r["rank"] for r in out] == list(range(8))
    # learned merges are over single chars first, frequencies descend
    # weakly only within equal-length symbol generations — just check
    # sane values
    assert all(r["pair_freq"] > 0 for r in out)
    assert all(len(r["left"]) >= 1 and len(r["right"]) >= 1 for r in out)


def test_bpe_word_frequencies(spark):
    df = spark.createDataFrame(
        [(1, "the cat the dog"), (2, "the bird")], "doc_id long, text string"
    )
    wf = {r["word"]: r["freq"] for r in word_frequencies(df, "text").collect()}
    assert wf == {"the": 3, "cat": 1, "dog": 1, "bird": 1}


def test_bpe_oracle_matches_reference_on_adversarial_runs():
    """functions/bpe_oracle.py (the r10 graduation of the registry's
    last rows-only entry) vs the pure-Python reference on corpora
    BUILT to break naive SQL-replace encodings: identical-symbol runs
    (l==r — where a shared-boundary single-SEP encoding mis-groups
    'lllll' as ll,l,ll instead of the sequential ll,ll,l), alternating
    runs, and merges whose result composes into later rounds."""
    import duckdb

    from clinvar_pipeline_spark.functions.bpe_oracle import (
        bpe_merges_oracle,
    )
    from clinvar_pipeline_spark.queries import _TOKENIZE_SQL

    corpora = [
        # runs of one char: grouping of lllll decides round-2 counts
        ["lllll lll llll", "ll lllll l", "lllll lllll"],
        # alternating + composition: (a,b)->ab then (ab,ab) pairs
        ["ababab abab ab", "abababab ab", "ba ab ba"],
        # merged symbol collides with an existing vocab word
        ["er er er", "e r ere rer", "erer erer e r"],
    ]
    for docs in corpora:
        text = [" ".join(docs)]
        wf: dict[str, int] = {}
        for w in " ".join(text).split():
            wf[w] = wf.get(w, 0) + 1
        expect = [
            (i, l, r, c) for i, (l, r, c) in enumerate(_ref_bpe(wf, 6))
        ]
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM (VALUES "
            + ", ".join(f"({i}, '{d}')" for i, d in enumerate(text))
            + ") AS t(doc_id, text)"
        )
        got = con.execute(
            bpe_merges_oracle(6, _TOKENIZE_SQL.format(col="text"))
        ).fetchall()
        assert [tuple(r) for r in got] == expect, (docs, got, expect)
