"""WARC source (sources/warc.py): record walk, HTTP split, gzip
multi-member handling, drop counters, and the documents bridge —
pinned on fixture archives written by the module's own encoder plus
hand-corrupted variants (the encoder is the parser's inverse for
well-formed input, so corruption tests are the real coverage)."""

from __future__ import annotations

import gzip

import pytest

from clinvar_pipeline_spark.sources.warc import (
    http_body,
    read_warc,
    warc_documents,
    warc_encode,
    warc_split_records,
)


def _fixture() -> bytes:
    return warc_encode(
        [
            {
                "type": "warcinfo",
                "record_id": "<urn:uuid:info>",
                "body": b"software: test\r\n",
            },
            {
                "type": "request",
                "record_id": "<urn:uuid:req>",
                "url": "http://a.example/x",
                "body": b"GET /x HTTP/1.1\r\n\r\n",
            },
            {
                "type": "response",
                "record_id": "<urn:uuid:r1>",
                "url": "http://a.example/x",
                "date": "2024-01-01T00:00:00Z",
                "http": (200, "text/html; charset=utf-8",
                         "les cafés <b>du</b> port".encode()),
            },
            {
                "type": "response",
                "record_id": "<urn:uuid:r2>",
                "url": "http://b.example/y",
                "date": "2024-01-02T00:00:00Z",
                "http": (404, "text/plain", b"gone"),
            },
            {
                "type": "conversion",
                "record_id": "<urn:uuid:c1>",
                "url": "http://a.example/x",
                "body": "les cafés du port".encode(),
            },
        ]
    )


def test_record_walk_and_http_split_pure():
    recs = list(warc_split_records(_fixture()))
    assert [h["warc-type"] for h, _ in recs] == [
        "warcinfo", "request", "response", "response", "conversion",
    ]
    status, ctype, body = http_body(recs[2][1])
    assert (status, ctype) == (200, "text/html; charset=utf-8")
    assert body.decode() == "les cafés <b>du</b> port"
    # conversion block has no HTTP envelope: the block IS the body
    status, _, body = http_body(recs[4][1])
    assert status == 0 and body.decode() == "les cafés du port"
    # plain (non-gzip) streams parse identically
    plain = gzip.decompress(_fixture())
    assert len(list(warc_split_records(plain))) == 5


def test_truncated_and_corrupt_records_raise():
    plain = gzip.decompress(_fixture())
    with pytest.raises(ValueError, match="truncated"):
        list(warc_split_records(plain[: len(plain) - 10]))
    with pytest.raises(ValueError, match="unterminated"):
        list(warc_split_records(plain[: len(plain) - 40]))
    with pytest.raises(ValueError, match="version line"):
        list(warc_split_records(b"NOT A WARC"))
    bad = plain.replace(b"Content-Length", b"Content-Lengt0", 1)
    with pytest.raises(ValueError, match="Content-Length"):
        list(warc_split_records(bad))


def test_read_warc_rows_counters_and_documents(spark, tmp_path):
    good = _fixture()
    # corrupt SECOND archive: good first record, garbage tail
    plain = gzip.decompress(good)
    first_end = plain.find(b"\r\n\r\nWARC/1.0")
    cut = gzip.compress(plain[: first_end + 4] + b"WARC/garbage")
    (tmp_path / "a.warc.gz").write_bytes(good)
    (tmp_path / "b.warc.gz").write_bytes(cut)

    records, counters = read_warc(spark, str(tmp_path))
    rows = {r["record_id"]: r for r in records.collect()}
    c = {r["counter"]: r["value"] for r in counters.collect()}
    from clinvar_pipeline_spark.caching import release_cached

    # archive a: 2 responses + 1 conversion kept, warcinfo+request skip
    assert set(rows) == {"<urn:uuid:r1>", "<urn:uuid:r2>", "<urn:uuid:c1>"}
    r1 = rows["<urn:uuid:r1>"]
    assert r1["url"] == "http://a.example/x"
    assert r1["http_status"] == 200
    assert r1["content_type"].startswith("text/html")
    assert r1["text"] == "les cafés <b>du</b> port"
    assert rows["<urn:uuid:r2>"]["http_status"] == 404
    assert rows["<urn:uuid:c1>"]["http_status"] == 0
    # archive b's good-then-garbage tail: nothing kept (its first
    # record is warcinfo), one bad tail counted
    assert c == {
        "RECORDS_KEPT": 3, "RECORDS_SKIPPED": 3, "ARCHIVES_BAD_TAIL": 1,
    }

    docs = warc_documents(records)
    drows = docs.collect()
    assert {r["source"].rsplit("/", 1)[-1] for r in drows} == {"a.warc.gz"}
    assert len({r["doc_id"] for r in drows}) == 3  # stable distinct ids
    assert all(r["lang"] is None for r in drows)
    assert {r["n_chars"] for r in drows} >= {4}
    # deterministic ids across a second read (rerun stability)
    records2, _ = read_warc(spark, str(tmp_path))
    ids2 = {r["doc_id"] for r in warc_documents(records2).collect()}
    assert ids2 == {r["doc_id"] for r in drows}
    release_cached()


def test_truncated_gzip_tail_keeps_complete_members():
    """A .warc.gz whose FINAL gzip member is cut mid-stream (the
    canonical interrupted-download shape; pre-r9 this raised EOFError
    out of gzip.decompress and lost the whole archive) yields every
    complete member's records, then the one ValueError the caller
    counts as a bad tail."""
    good = _fixture()
    half_member = gzip.compress(
        b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 4\r\n\r\nBODY"
    )[:12]
    raw = good + half_member
    it = warc_split_records(raw)
    kept = []
    # the truncated member surfaces as SOME ValueError — either the
    # gzip-tail flag or the walker tripping on its partial plaintext;
    # both are the one counted bad tail
    with pytest.raises(ValueError, match="warc:"):
        for hdr, block in it:
            kept.append(hdr.get("warc-type"))
    assert kept == [
        "warcinfo", "request", "response", "response", "conversion"
    ]


def test_corrupt_gzip_member_mid_stream_counts_one_bad_tail(spark, tmp_path):
    """End-to-end through read_warc: records before the corrupt member
    land as rows, ARCHIVES_BAD_TAIL counts 1, nothing crashes."""
    p = tmp_path / "t.warc.gz"
    p.write_bytes(_fixture() + b"\x1f\x8b\x08\x00garbage-not-deflate")
    records, counters = read_warc(spark, str(tmp_path))
    c = {r["counter"]: r["value"] for r in counters.collect()}
    assert c["ARCHIVES_BAD_TAIL"] == 1
    assert c["RECORDS_KEPT"] == 3  # response x2 + conversion
    assert records.count() == 3


def test_crc_failed_member_plaintext_discarded_not_kept():
    """A member whose DEFLATE stream inflates cleanly but whose CRC32
    trailer is bit-flipped (silent bit-rot) must NOT have its
    possibly-garbled records emitted as KEPT rows — zlib validates the
    trailer only at member end, so the plaintext must stay buffered
    until do.eof confirms it (ADVICE r9). Records from earlier VALID
    members still come through; the failure is one counted bad tail."""
    good = _fixture()
    bad_member = bytearray(gzip.compress(
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Record-ID: <urn:uuid:evil>\r\nContent-Length: 4\r\n\r\n"
        b"BODY\r\n\r\n"
    ))
    bad_member[-5] ^= 0xFF  # flip a CRC32 byte; DEFLATE bytes untouched
    it = warc_split_records(good + bytes(bad_member))
    kept_ids = []
    with pytest.raises(ValueError, match="corrupt gzip member"):
        for hdr, _block in it:
            kept_ids.append(hdr.get("warc-record-id"))
    assert "<urn:uuid:evil>" not in kept_ids
    assert kept_ids == [
        "<urn:uuid:info>", "<urn:uuid:req>", "<urn:uuid:r1>",
        "<urn:uuid:r2>", "<urn:uuid:c1>",
    ]
