"""Golden tests for byte-trim (M9), width packer (A3), term key (J11)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clinvar_pipeline_spark.functions.text import (
    byte_trim,
    normalize_term_key,
    pack_width_buckets,
)
from clinvar_pipeline_spark.functions.text_oracle import byte_trim_py, pack_py


def one(spark, expr):
    return spark.range(1).select(expr.alias("out")).collect()[0]["out"]


class TestByteTrimPy:
    def test_within_budget_untouched(self):
        assert byte_trim_py("hello", 10) == "hello"
        assert byte_trim_py(None, 10) is None

    def test_over_budget_cut_and_suffixed(self):
        out = byte_trim_py("a" * 100, 20)
        assert out == "a" * 16 + " ..."
        assert len(out.encode("utf-8")) == 20

    def test_multibyte_never_split(self):
        # é = 2 bytes; budget forces a cut inside a é without the guard
        s = "é" * 50  # 100 bytes
        out = byte_trim_py(s, 21)  # 21-4=17 keep bytes → must back off to 16
        assert out.endswith(" ...")
        body = out[:-4]
        assert body == "é" * 8
        assert len(out.encode("utf-8")) <= 21

    def test_exact_budget(self):
        assert byte_trim_py("abcd", 4) == "abcd"

    def test_budget_below_suffix_rejected(self):
        # a negative keep would slice from the end: "abcde ..." for 3
        for budget in (3, 0, -1):
            with pytest.raises(ValueError, match="below"):
                byte_trim_py("abcdef", budget)
            with pytest.raises(ValueError, match="below"):
                byte_trim("s", budget)
        assert byte_trim_py("abcdef", 4) == " ..."


class TestByteTrimSpark:
    def test_matches_python(self, spark):
        cases = ["short", "x" * 5000, "é" * 3000, None]
        df = spark.createDataFrame([(c,) for c in cases], ["s"])
        got = [r["out"] for r in df.select(byte_trim("s", 4000).alias("out")).collect()]
        assert got == [byte_trim_py(c, 4000) for c in cases]


class TestPack:
    def test_all_fit_one_bucket(self):
        assert pack_py(["b", "a"], 100) == [["a", "b"]]

    def test_split_at_width(self):
        # "aa|bb" = 5 chars fits in 5; adding "|cc" would exceed
        assert pack_py(["aa", "bb", "cc"], 5) == [["aa", "bb"], ["cc"]]

    def test_each_bucket_within_width_and_set_preserved(self):
        items = [f"elem{i:03d}" for i in range(50)]
        buckets = pack_py(items, 40)
        for b in buckets:
            assert len("|".join(b)) <= 40
        flat = [e for b in buckets for e in b]
        assert flat == sorted(set(items))

    def test_oversize_single_element_own_bucket(self):
        assert pack_py(["xxxxxxxxxx", "a"], 5) == [["a"], ["xxxxxxxxxx"]]

    def test_spark_udf_matches(self, spark):
        df = spark.createDataFrame([(["aa", "bb", "cc"],)], ["arr"])
        got = df.select(pack_width_buckets("arr", 5).alias("out")).collect()[0]["out"]
        assert [list(b) for b in got] == [["aa", "bb"], ["cc"]]


class TestNormalizeTermKey:
    def test_word_sort_and_strip(self, spark):
        out = one(spark, normalize_term_key(F.lit("Beta-Alpha (Gamma), delta/EPSILON")))
        assert out == "alpha.beta.delta.epsilon.gamma"

    def test_same_key_for_word_permutations(self, spark):
        a = one(spark, normalize_term_key(F.lit("Diabetes Mellitus, Type 2")))
        b = one(spark, normalize_term_key(F.lit("type 2 diabetes mellitus")))
        assert a == b
