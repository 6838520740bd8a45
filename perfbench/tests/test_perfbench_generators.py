"""The seeded input generators: determinism, churn ground truth, and
the record counts the program's parser sees."""

from __future__ import annotations

import filecmp
import os

import pyarrow.parquet as pq
import pytest

import gen_release
import gen_tables


def _files(d):
    return sorted(
        os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs
    )


def test_same_seed_gives_byte_identical_release(tmp_path):
    a = gen_release.make_release(str(tmp_path / "a"), seed=5, n_records=80)
    b = gen_release.make_release(str(tmp_path / "b"), seed=5, n_records=80)
    assert a == b
    names = _files(tmp_path / "a")
    assert names == _files(tmp_path / "b")
    assert {"R0.xml", "R1.xml", "manifest.json", "genes.parquet"} <= set(names)
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert mismatch == [] and errors == []


def test_seed_moves_r1_but_not_the_base(tmp_path):
    gen_release.make_release(str(tmp_path / "a"), seed=1, n_records=200)
    gen_release.make_release(str(tmp_path / "b"), seed=2, n_records=200)
    assert filecmp.cmp(tmp_path / "a" / "R0.xml", tmp_path / "b" / "R0.xml", shallow=False)
    assert not filecmp.cmp(tmp_path / "a" / "R1.xml", tmp_path / "b" / "R1.xml", shallow=False)


def test_churn_stays_under_the_stale_delete_guards(tmp_path):
    m = gen_release.make_release(str(tmp_path), seed=3, n_records=600)
    c = m["load_counters"]
    prev = m["r0_simple"]
    assert 0 < c["VARIANTS_DELETE"] / prev < 0.05
    assert c["VARIANTS_INSERT"] > 0 and m["churn"]["changed"] > 0
    assert (c["VARIANTS_UPDATE"] + c["VARIANTS_UNCHANGED"] + c["VARIANTS_DELETE"]) == prev
    assert {"RECORDS_MULTI_ALLELE", "RECORDS_GENOTYPE", "RECORDS_HAPLOTYPE"} <= set(c)


def test_reorder_rule():
    # alphabetical "benign|pathogenic" vs severity "pathogenic|benign"
    assert gen_release.reordered_on_reload(["pathogenic", "benign"])
    assert not gen_release.reordered_on_reload(["benign", "likely benign", "benign"])
    assert not gen_release.reordered_on_reload(["uncertain significance"])


def test_parser_sees_the_manifest_record_counts(tmp_path, traced_spark):
    from clinvar_pipeline_spark.sources.vcv_xml import read_vcv_xml

    spark, _ = traced_spark
    m = gen_release.make_release(str(tmp_path), seed=4, n_records=120)
    rows = read_vcv_xml(spark, str(tmp_path / "R1.xml")).groupBy("record_kind").count().collect()
    got = {f"RECORDS_{r['record_kind'].upper()}": r["count"] for r in rows}
    want = {k: v for k, v in m["load_counters"].items() if k.startswith("RECORDS_")}
    assert got == want
    assert sum(got.values()) == m["r1_records"]


@pytest.mark.parametrize("seed", [1, 2])
def test_tables_are_deterministic_and_typed(tmp_path, seed):
    gen_tables.make_tables(str(tmp_path / "a"), seed)
    gen_tables.make_tables(str(tmp_path / "b"), seed)
    for name in _files(tmp_path / "a"):
        assert filecmp.cmp(tmp_path / "a" / name, tmp_path / "b" / name, shallow=False), name
    schema = pq.read_schema(tmp_path / "a" / "embeddings.parquet")
    assert str(schema.field("embedding").type) == "list<element: float>"
    ev = pq.read_table(tmp_path / "a" / "events.parquet").to_pandas()
    assert ev["ts"].is_monotonic_increasing and ev["event_id"].is_unique
