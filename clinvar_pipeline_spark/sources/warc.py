"""WARC (Web ARChive, ISO 28500) document source — the format
pretraining web corpora actually arrive in (Common Crawl ships WARC;
its WET/WAT sidecars are derived views). Sits next to the JSONL
interchange source (sources/jsonl.py) on the ingest rung of the
corpus-prep chain.

Pure-Python record walk (the functions/{png,wav,y4m,...} codec
discipline): a WARC file is a sequence of records — a ``WARC/1.x``
version line, CRLF header block, ``Content-Length`` octets of block
payload, blank-line separator — and Common Crawl's convention gzips
EACH RECORD as its own member, so the standard ``.warc.gz`` is a
multi-member stream that stdlib ``gzip.decompress`` inflates whole.
For ``response`` records the block is an HTTP message; the body is
split off at the first blank line and decoded as UTF-8 (replacement
on undecodable bytes — web bytes are dirty by definition).

Scale shape: ``read_warc`` lists archives via Spark's binaryFile
source — ONE TASK PER ARCHIVE, the sparkcc/cc-pyspark processing
convention for Common Crawl — and a mapInPandas kernel walks each
archive's records in-task, emitting one row per kept record. Nothing
archive-sized is shuffled; malformed records and non-target types are
COUNTED drops, not job failures (the jsonl corrupt-record
discipline). Partition count == archive count, the natural unit
(crawl shards are sized for exactly this, ~1 GiB each).
"""

from __future__ import annotations

import gzip
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WARC_MAGIC = b"WARC/"
GZIP_MAGIC = b"\x1f\x8b"

# one row per kept record + per-archive drop counters, surfaced the
# way plans/vcf.py surfaces its drop counters
WARC_SCHEMA = (
    "archive string, record_id string, url string, warc_date string,"
    " content_type string, http_status int, text string"
)


def warc_split_records(raw: bytes) -> Iterator[tuple[dict, bytes]]:
    """Yield (headers, block) per well-formed record; stop at the
    first structural corruption (a truncated tail cannot be
    re-synchronized trustworthily — the remainder is counted as one
    bad tail by the caller via StopIteration semantics)."""
    tail_error: str | None = None
    if raw[:2] == GZIP_MAGIC:
        # multi-member stream, decompressed MEMBER-WISE: stdlib
        # gzip.decompress raises EOFError on a truncated final member,
        # which would throw away every good record in the archive (and
        # crashed the task pre-r9 — the ingest probe caught it). With
        # Common Crawl's member-per-record convention, records before
        # the corrupt tail are complete — inflate each member, keep
        # the complete ones, and surface the tail as the same
        # ValueError the walker uses so the caller counts ONE bad
        # tail after yielding everything recoverable.
        # Rewind-fed decompressobj walk over a zero-copy memoryview.
        # Rejected alternatives: one decompressobj per member with
        # whole-remainder feeds costs an unused_data COPY of the
        # remaining archive per record — O(members^2) bytes under
        # Common Crawl's member-per-record convention (measured
        # 10 MB/s on the ingest probe); gzip.GzipFile is C-fast but
        # its failing read() call discards everything it decompressed
        # before the error, losing complete members; the r9 chunk-fed
        # rest-chain walk re-fed each feed's unused_data tail through
        # the next member, which for TINY members (Common Crawl
        # averages ~300 compressed bytes) degenerated to
        # O(members_per_feed^2) copies per feed — the 72 MB/s
        # bottleneck the r9 verdict flagged. Here each member-end
        # REWINDS the input pointer to the member boundary computed
        # from len(unused_data), so every feed is a fresh zero-copy
        # memoryview slice of the original buffer, and the feed size
        # ADAPTS to ~4x the running mean compressed member size
        # (floor 4 KiB, cap 256 KiB) so zlib's internal unused_data
        # copy stays member-sized instead of feed-sized: total copy
        # volume is O(archive bytes) at any member granularity. A
        # truncated final member may leave PARTIAL plaintext — the
        # record walker then stops at the incomplete record, same
        # one-bad-tail outcome.
        import zlib

        CHUNK_MAX = 1 << 18
        CHUNK_MIN = 1 << 12
        chunk = CHUNK_MAX
        out = bytearray()
        cur = bytearray()  # in-flight member: committed only on trailer OK
        mv = memoryview(raw)
        n_raw = len(mv)
        ip = 0
        members = 0
        do = zlib.decompressobj(wbits=31)
        mid_member = False  # current member has consumed bytes
        try:
            while ip < n_raw:
                feed = mv[ip : ip + chunk]
                cur += do.decompress(feed)
                if do.eof:
                    # the member's CRC32+ISIZE trailer VALIDATED —
                    # only now is cur trustworthy plaintext
                    ip += len(feed) - len(do.unused_data)
                    out += cur
                    cur = bytearray()
                    do = zlib.decompressobj(wbits=31)
                    mid_member = False
                    members += 1
                    # running mean compressed member size = ip/members
                    chunk = min(
                        CHUNK_MAX, max(CHUNK_MIN, 4 * (ip // members))
                    )
                else:
                    ip += len(feed)
                    mid_member = True
        except zlib.error:
            # CRC-mismatch / bad DEFLATE: the in-flight member's
            # plaintext may be bit-flipped garble — DISCARD cur rather
            # than emit possibly-corrupt records as KEPT rows
            tail_error = "warc: corrupt gzip member"
        else:
            if mid_member and not do.eof:
                # plain truncation (stream just ends, no CRC verdict):
                # the inflated prefix is valid DEFLATE output — salvage
                # it; the record walker stops at the incomplete record
                out += cur
                tail_error = "warc: truncated gzip tail"
        raw = bytes(out)
    pos = 0
    n = len(raw)
    while pos < n:
        # tolerate inter-record padding
        while pos < n and raw[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            break  # not return: a pending tail_error must still raise
        if raw[pos : pos + 5] != WARC_MAGIC:
            raise ValueError(f"warc: no version line at offset {pos}")
        hdr_end = raw.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError("warc: unterminated header block")
        lines = raw[pos:hdr_end].split(b"\r\n")
        headers: dict[str, str] = {}
        for ln in lines[1:]:
            k, sep, v = ln.partition(b":")
            if sep:
                headers[k.strip().decode("ascii", "replace").lower()] = (
                    v.strip().decode("utf-8", "replace")
                )
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            raise ValueError("warc: missing/bad Content-Length") from None
        body_at = hdr_end + 4
        if body_at + clen > n:
            raise ValueError("warc: truncated record payload")
        yield headers, raw[body_at : body_at + clen]
        pos = body_at + clen
    if tail_error:
        raise ValueError(tail_error)


def http_body(block: bytes) -> tuple[int, str, bytes]:
    """(status, content-type, body) from an HTTP response message —
    the block payload of a WARC ``response`` record. Returns status 0
    and the whole block when no HTTP status line is present (a
    ``conversion`` record's block IS the body)."""
    if not block.startswith(b"HTTP/"):
        return 0, "", block
    split = block.find(b"\r\n\r\n")
    if split < 0:
        return 0, "", b""
    head = block[:split].split(b"\r\n")
    try:
        status = int(head[0].split()[1])
    except (IndexError, ValueError):
        status = 0
    ctype = ""
    for ln in head[1:]:
        k, sep, v = ln.partition(b":")
        if sep and k.strip().lower() == b"content-type":
            ctype = v.strip().decode("ascii", "replace")
            break
    return status, ctype, block[split + 4 :]


def warc_encode(records: list[dict]) -> bytes:
    """Minimal writer (tests + fixtures), Common Crawl convention:
    each record its own gzip member. Record dicts: ``type``, ``url``,
    ``date``, ``record_id``, and either ``http`` (status, ctype,
    body bytes — a response record) or ``body`` bytes (conversion)."""
    out = bytearray()
    for r in records:
        if "http" in r:
            status, ctype, body = r["http"]
            block = (
                f"HTTP/1.1 {status} X\r\nContent-Type: {ctype}\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode() + body
        else:
            block = r["body"]
        hdr = (
            "WARC/1.0\r\n"
            f"WARC-Type: {r['type']}\r\n"
            f"WARC-Record-ID: {r.get('record_id', '<urn:uuid:0>')}\r\n"
            + (f"WARC-Target-URI: {r['url']}\r\n" if "url" in r else "")
            + (f"WARC-Date: {r['date']}\r\n" if "date" in r else "")
            + f"Content-Length: {len(block)}\r\n\r\n"
        ).encode()
        out += gzip.compress(hdr + block + b"\r\n\r\n")
    return bytes(out)


def read_warc(
    spark: SparkSession,
    path: str,
    keep_types: tuple[str, ...] = ("response", "conversion"),
) -> tuple[DataFrame, DataFrame]:
    """(records, counters): every kept WARC record across the
    archives under ``path`` as one row (archive, record_id, url,
    warc_date, content_type, http_status, text), plus a counters
    frame (RECORDS_KEPT / RECORDS_SKIPPED / ARCHIVES_BAD_TAIL) — the
    jsonl-source contract. One task per archive (binaryFile row);
    record walk, HTTP split, and UTF-8 decode all happen in-task."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                k: []
                for k in (
                    "archive", "record_id", "url", "warc_date",
                    "content_type", "http_status", "text",
                    "_kept", "_skipped", "_bad_tail",
                )
            }
            for apath, raw in zip(pdf["path"], pdf["content"]):
                kept = skipped = bad = 0
                try:
                    for hdr, block in warc_split_records(bytes(raw)):
                        if hdr.get("warc-type") not in keep_types:
                            skipped += 1
                            continue
                        status, ctype, body = http_body(block)
                        rows["archive"].append(apath)
                        rows["record_id"].append(
                            hdr.get("warc-record-id", "")
                        )
                        rows["url"].append(hdr.get("warc-target-uri", ""))
                        rows["warc_date"].append(hdr.get("warc-date", ""))
                        rows["content_type"].append(
                            ctype or hdr.get("content-type", "")
                        )
                        rows["http_status"].append(status)
                        rows["text"].append(
                            body.decode("utf-8", "replace")
                        )
                        rows["_kept"].append(None)
                        rows["_skipped"].append(None)
                        rows["_bad_tail"].append(None)
                        kept += 1
                except ValueError:
                    bad = 1  # structurally corrupt tail: counted drop
                # one counter row per archive (null record fields)
                rows["archive"].append(apath)
                for k in ("record_id", "url", "warc_date", "content_type"):
                    rows[k].append(None)
                rows["http_status"].append(None)
                rows["text"].append(None)
                rows["_kept"].append(kept)
                rows["_skipped"].append(skipped)
                rows["_bad_tail"].append(bad)
            yield pd.DataFrame(rows)

    parsed = files.select("path", "content").mapInPandas(
        kernel,
        WARC_SCHEMA + ", _kept int, _skipped int, _bad_tail int",
    )
    from clinvar_pipeline_spark.caching import register_persist

    parsed = register_persist(parsed)
    records = parsed.filter(F.col("_kept").isNull()).drop(
        "_kept", "_skipped", "_bad_tail"
    )
    counters = parsed.filter(F.col("_kept").isNotNull()).select(
        F.explode(
            F.create_map(
                F.lit("RECORDS_KEPT"), F.col("_kept"),
                F.lit("RECORDS_SKIPPED"), F.col("_skipped"),
                F.lit("ARCHIVES_BAD_TAIL"), F.col("_bad_tail"),
            )
        ).alias("counter", "v")
    ).groupBy("counter").agg(F.sum("v").cast("long").alias("value"))
    return records, counters


def warc_documents(records: DataFrame) -> DataFrame:
    """Kept WARC records -> the corpus-prep ``documents`` shape
    (doc_id, text, lang, source, n_chars): doc_id is a deterministic
    64-bit hash of (archive, record_id) — stable across reruns and
    engine-portable, unlike a zipWithIndex —, lang left null for the
    langid stage to fill, source the archive path. The bridge from
    crawl ingest to every downstream stage."""
    return records.select(
        F.xxhash64("archive", "record_id").alias("doc_id"),
        "text",
        F.lit(None).cast("string").alias("lang"),
        F.col("archive").alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    )
