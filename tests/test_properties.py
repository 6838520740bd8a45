"""Property-based tests (SURVEY.md §5): merge idempotence, diff-sync
algebra, byte-trim and width-split invariants.

Python-level properties run hundreds of examples against the exported
reference implementations (byte_trim_py / pack_py), and Spark-level
properties check the JVM expressions (byte_trim / pack_width_buckets)
equal them. Spark-level properties batch each hypothesis example set
into ONE DataFrame so the JVM round-trip cost is paid per example set,
not per case."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from clinvar_pipeline_spark.functions.sets import (
    merge_pipe_sets,
    merge_pipe_sets_ci,
)
from clinvar_pipeline_spark.functions.text import byte_trim, pack_width_buckets
from clinvar_pipeline_spark.functions.text_oracle import byte_trim_py, pack_py
from clinvar_pipeline_spark.operators.diff_sync import apply_diff, diff_sync

# ---------------------------------------------------------------------
# M9 byte-budget trim: the Python reference, then the JVM expression
# ---------------------------------------------------------------------

texts = st.text(max_size=200)
budgets = st.integers(min_value=8, max_value=120)


@given(texts, budgets)
def test_byte_trim_within_budget(s, budget):
    out = byte_trim_py(s, budget)
    assert len(out.encode("utf-8")) <= budget


@given(texts, budgets)
def test_byte_trim_noop_when_fits(s, budget):
    if len(s.encode("utf-8")) <= budget:
        assert byte_trim_py(s, budget) == s
    else:
        assert byte_trim_py(s, budget).endswith(" ...")


@given(texts, budgets)
def test_byte_trim_idempotent(s, budget):
    once = byte_trim_py(s, budget)
    assert byte_trim_py(once, budget) == once


# 1- to 4-byte characters, so cuts land inside every multibyte width
WIDE_CHARS = ["a", "é", "€", "中", "😀", "𝄞"]
trim_texts = st.lists(
    st.one_of(
        st.none(),
        st.text(alphabet=st.sampled_from(WIDE_CHARS), max_size=30),
        st.text(max_size=30),
    ),
    min_size=1,
    max_size=20,
)


def _trim_edges(budget):
    keep = budget - 4
    edges = [None, "", "a" * budget, "a" * (budget + 1), "é" * budget]
    # a 2-, 3- and 4-byte character starting at each offset before the cut
    for ch in WIDE_CHARS[1:]:
        for off in range(1, len(ch.encode("utf-8")) + 1):
            edges.append("a" * max(keep - off, 0) + ch * 3)
    return edges


@settings(max_examples=25, deadline=None)
@given(trim_texts, st.integers(min_value=4, max_value=24))
def test_byte_trim_spark_matches_reference(spark, cases, budget):
    rows = cases + _trim_edges(budget) + _trim_edges(4)
    df = spark.createDataFrame([(s,) for s in rows], "s string")
    got = df.select(byte_trim("s", budget).alias("t"), byte_trim("s", 4).alias("t4")).collect()
    assert [r["t"] for r in got] == [byte_trim_py(s, budget) for s in rows]
    assert [r["t4"] for r in got] == [byte_trim_py(s, 4) for s in rows]


# ---------------------------------------------------------------------
# A3 width-bucketed split: the Python reference, then the JVM expression
# ---------------------------------------------------------------------

elements = st.lists(
    st.text(alphabet="abcdefXYZ019", min_size=1, max_size=10), max_size=30
)


@given(elements, st.integers(min_value=10, max_value=60))
def test_pack_preserves_sorted_set(items, width):
    buckets = pack_py(items, width)
    flat = [e for b in buckets for e in b]
    assert flat == sorted(set(items))


@given(elements, st.integers(min_value=10, max_value=60))
def test_pack_respects_width(items, width):
    # every element fits alone (len <= 10 <= width), so every bucket's
    # joined serialization must respect the width
    for b in pack_py(items, width):
        assert len("|".join(b)) <= width or len(b) <= 1


# multibyte elements: a character count that differs from the byte count
pack_arrays = st.lists(
    st.one_of(
        st.none(),
        st.lists(
            st.text(alphabet=st.sampled_from(WIDE_CHARS + ["b", "c"]), max_size=6),
            max_size=12,
        ),
    ),
    min_size=1,
    max_size=15,
)


@settings(max_examples=25, deadline=None)
@given(pack_arrays, st.integers(min_value=1, max_value=30))
def test_pack_width_buckets_spark_matches_reference(spark, cases, width):
    rows = cases + [
        None,
        [],
        ["b", "a", "b", "a", "c"],  # duplicates
        ["x" * (width + 1), "a", "b"],  # one element over the width
        # "a|éé…" fills the first bucket in characters but not in bytes
        ["a", "é" * (width - 2), "中" * (width + 1)],
        ["😀" * width, "a"],
    ]
    df = spark.createDataFrame([(a,) for a in rows], "a array<string>")
    got = [r["p"] for r in df.select(pack_width_buckets("a", width).alias("p")).collect()]
    assert got == [pack_py(a, width) for a in rows]


# ---------------------------------------------------------------------
# M1/M3 pipe-set merges (Spark expressions, Python oracle, batched)
# ---------------------------------------------------------------------

pipe_elem = st.text(alphabet="abXY01", min_size=1, max_size=5)
pipe_sets = st.lists(
    st.tuples(st.lists(pipe_elem, max_size=5), st.lists(pipe_elem, max_size=5)),
    min_size=1,
    max_size=12,
)


@settings(max_examples=5, deadline=None)
@given(pipe_sets)
def test_merge_pipe_sets_oracle(spark, cases):
    rows = [("|".join(a), "|".join(b)) for a, b in cases]
    df = spark.createDataFrame(rows, "a string, b string")
    got = [
        r["m"]
        for r in df.select(merge_pipe_sets("a", "b").alias("m")).collect()
    ]
    for (a, b), m in zip(cases, got):
        expected = "|".join(sorted(set(a) | set(b)))
        assert m == expected
        # idempotence: merging the result with either side is a fixpoint
    df2 = spark.createDataFrame(
        [(m, "|".join(b)) for (_, b), m in zip(cases, got)],
        "a string, b string",
    )
    again = [
        r["m"]
        for r in df2.select(merge_pipe_sets("a", "b").alias("m")).collect()
    ]
    assert again == got


@settings(max_examples=5, deadline=None)
@given(pipe_sets)
def test_merge_pipe_sets_ci_incoming_wins(spark, cases):
    rows = [("|".join(a), "|".join(b)) for a, b in cases]
    df = spark.createDataFrame(rows, "inc string, ex string")
    got = [
        r["m"]
        for r in df.select(merge_pipe_sets_ci("inc", "ex").alias("m")).collect()
    ]
    for (inc, ex), m in zip(cases, got):
        low_inc = {e.lower() for e in inc}
        kept = [e for e in ex if e.lower() not in low_inc]
        expected = "|".join(sorted(set(inc) | set(kept)))
        assert m == expected


# ---------------------------------------------------------------------
# J10 diff-sync algebra: apply(diff(new, old), old) == new
# ---------------------------------------------------------------------

snapshot = st.dictionaries(
    st.integers(min_value=0, max_value=30),
    st.one_of(st.none(), st.text(alphabet="pqr", max_size=3)),
    max_size=15,
)


@settings(max_examples=6, deadline=None)
@given(snapshot, snapshot)
def test_diff_apply_roundtrip(spark, old, new):
    schema = "k long, v string"
    old_df = spark.createDataFrame(list(old.items()) or [], schema)
    new_df = spark.createDataFrame(list(new.items()) or [], schema)
    diff = diff_sync(new_df, old_df, key_cols=["k"], compare_cols=["v"])
    result = {
        (r["k"], r["v"]) for r in apply_diff(diff, ["k"], ["v"]).collect()
    }
    assert result == set(new.items())
    # change classification is exhaustive and disjoint per key
    per_key = {r["k"]: r["change_type"] for r in diff.collect()}
    assert set(per_key) == set(old) | set(new)
    for k, ct in per_key.items():
        if k not in old:
            assert ct == "INSERT"
        elif k not in new:
            assert ct == "DELETE"
        elif old[k] == new[k]:
            assert ct == "UNCHANGED"
        else:
            assert ct == "UPDATE"


# ---------------------------------------------------------------------
# Rolling Karp-Rabin fingerprint (Spark fold vs pure-Python reference)
# ---------------------------------------------------------------------

def _fp_roll_py(s: str) -> int:
    acc = 7
    for ch in s:
        acc = (acc * 31 + ord(ch)) % 1000000007
    return acc


ascii_texts = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        max_size=80,
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=5, deadline=None)
@given(ascii_texts)
def test_rolling_fingerprint_matches_reference(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    fp = F.aggregate(
        F.expr(
            "transform(sequence(1, greatest(length(text), 1)),"
            " i -> cast(ascii(substr(text, i, 1)) as bigint))"
        ),
        F.lit(7).cast("long"),
        lambda acc, c: (acc * 31 + c) % 1000000007,
    )
    got = [
        r["fp"]
        for r in df.select(
            F.when(F.length("text") == 0, F.lit(7).cast("long"))
            .otherwise(fp)
            .alias("fp")
        ).collect()
    ]
    assert got == [_fp_roll_py(t) for t in texts]


# ---------------------------------------------------------------------
# normalized_tokens single-pass spelling (r11) == the original
# replace->trim->split chain, for ALL inputs
# ---------------------------------------------------------------------


def _old_normalized_tokens(c):
    cleaned = F.regexp_replace(F.lower(c), "[^a-z0-9\\s]", " ")
    return F.array_remove(F.split(F.trim(cleaned), "\\s+"), "")


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.text(max_size=80),  # full unicode incl. surrogate-adjacent
        min_size=1,
        max_size=40,
    )
)
def test_normalized_tokens_single_pass_equivalent(spark, texts):
    from clinvar_pipeline_spark.functions.hashes import normalized_tokens

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(
        normalized_tokens(F.col("text")).alias("new"),
        _old_normalized_tokens(F.col("text")).alias("old"),
    ).collect()
    for r in rows:
        assert r["new"] == r["old"]


def test_normalized_tokens_single_pass_on_corpus(spark):
    """The equivalence on the real documents table (adversarial
    punctuation/unicode the generator may miss)."""
    from clinvar_pipeline_spark.functions.hashes import normalized_tokens

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bad = (
        d.select(
            normalized_tokens(F.col("text")).alias("new"),
            _old_normalized_tokens(F.col("text")).alias("old"),
        )
        .filter(F.col("new") != F.col("old"))
        .count()
    )
    assert bad == 0
