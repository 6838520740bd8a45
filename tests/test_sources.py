"""Tests for the VCF sink (S9)."""

import glob

from clinvar_pipeline_spark.sources.vcf_sink import VCF_HEADER, vcf_text, write_vcf


def test_write_vcf_single_sorted_file(spark, tmp_path):
    lines = spark.createDataFrame(
        [
            ("2", 50, "2\t50\trs2\tA\tG"),
            ("1", 200, "1\t200\trs1\tC\tT"),
            ("1", 30, "1\t30\trs0\tG\tA"),
        ],
        "chr string, pos long, line string",
    )
    out = tmp_path / "out.vcf"
    write_vcf(lines, str(out))
    parts = glob.glob(str(out / "part-*"))
    assert len(parts) == 1
    content = open(parts[0]).read().splitlines()
    assert content[: len(VCF_HEADER)] == VCF_HEADER
    assert content[len(VCF_HEADER):] == [
        "1\t30\trs0\tG\tA",
        "1\t200\trs1\tC\tT",
        "2\t50\trs2\tA\tG",
    ]


def test_vcf_header_skips_python_workers(spark):
    """The header rows reach the JVM as a local relation: the VCF
    text's lineage has no PythonRDD (a Python-worker job) when its data
    lines have none."""
    lines = spark.range(3).selectExpr(
        "'1' AS chr", "id AS pos", "concat('1\t', id) AS line"
    )
    text = vcf_text(lines)
    assert "PythonRDD" not in text._jdf.queryExecution().toRdd().toDebugString()
    assert [r["line"] for r in text.collect()] == VCF_HEADER + ["1\t0", "1\t1", "1\t2"]


# ---------------------------------------------------------------------
# JSONL document source/sink
# ---------------------------------------------------------------------

def test_jsonl_read_counts_corrupt_lines(spark, tmp_path):
    from clinvar_pipeline_spark.sources.jsonl import read_documents_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "s"}\n'
        '{"doc_id": 2, "text": "zweites dokument", "lang": "de", "source": "s"}\n'
        "{not json at all\n"
        '{"doc_id": 3, "text": "third", "lang": "en", "source": "t"}\n',
        "utf-8",
    )
    good, counters = read_documents_jsonl(spark, str(p))
    assert {r["doc_id"] for r in good.collect()} == {1, 2, 3}
    c = {r["counter"]: r["value"] for r in counters.collect()}
    assert c == {"DOCS_GOOD": 3, "DOCS_CORRUPT": 1}


def test_jsonl_roundtrip(spark, tmp_path):
    from clinvar_pipeline_spark.sources.jsonl import (
        read_documents_jsonl,
        write_documents_jsonl,
    )

    df = spark.createDataFrame(
        [(1, "a b", "en", "s"), (2, "c d", "fr", "t")],
        "doc_id long, text string, lang string, source string",
    )
    write_documents_jsonl(df, str(tmp_path / "out"))
    back, counters = read_documents_jsonl(spark, str(tmp_path / "out"))
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    c = {r["counter"]: r["value"] for r in counters.collect()}
    assert c == {"DOCS_GOOD": 2}


def test_jsonl_gzip_ingest_transparent(spark, tmp_path):
    """Corpora ship as .jsonl.gz; the JSONL source must read them
    transparently (Hadoop codec inference) with the corrupt-line
    counters intact."""
    import gzip

    from clinvar_pipeline_spark.sources.jsonl import read_documents_jsonl

    p = tmp_path / "docs.jsonl.gz"
    with gzip.open(p, "wt") as fh:
        fh.write(
            '{"doc_id": 1, "text": "hello world one", "lang": "en",'
            ' "source": "s"}\n'
            "corrupt {\n"
            '{"doc_id": 2, "text": "two three four", "lang": "en",'
            ' "source": "s"}\n'
        )
    good, counters = read_documents_jsonl(spark, str(p))
    assert sorted(r["doc_id"] for r in good.collect()) == [1, 2]
    c = {r["counter"]: r["value"] for r in counters.collect()}
    assert c == {"DOCS_GOOD": 2, "DOCS_CORRUPT": 1}


def test_csv_quarantine_counts_and_preserves_bad_rows(spark, tmp_path):
    from clinvar_pipeline_spark.sources.csvq import read_csv_quarantined

    p = tmp_path / "feed.csv"
    p.write_text(
        "id,name,score\n"
        "1,alpha,2.5\n"
        "not-a-number,beta,1.0\n"   # id fails the long cast
        "2,gamma,3.25\n"
        "3,delta\n"                 # short row: missing column
        "4,epsilon,oops\n"          # score fails the double cast
    )
    good, quarantine, counters = read_csv_quarantined(
        spark, str(p), "id long, name string, score double"
    )
    assert sorted(map(tuple, good.collect())) == [
        (1, "alpha", 2.5),
        (2, "gamma", 3.25),
    ]
    bad = sorted(r["raw_line"] for r in quarantine.collect())
    assert bad == ["3,delta", "4,epsilon,oops", "not-a-number,beta,1.0"]
    cts = {r["counter"]: r["value"] for r in counters.collect()}
    assert cts == {"ROWS_GOOD": 2, "ROWS_QUARANTINED": 3}


def test_csv_quarantine_clean_feed_has_empty_lane(spark, tmp_path):
    from clinvar_pipeline_spark.sources.csvq import read_csv_quarantined

    p = tmp_path / "clean.csv"
    p.write_text("id,name,score\n1,a,1.0\n2,b,2.0\n")
    good, quarantine, counters = read_csv_quarantined(
        spark, str(p), "id long, name string, score double"
    )
    assert good.count() == 2 and quarantine.count() == 0
    cts = {r["counter"]: r["value"] for r in counters.collect()}
    assert cts == {"ROWS_GOOD": 2}
