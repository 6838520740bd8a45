"""Streaming corpus-prep twins: the stateless scrub/gate operators
over a two-micro-batch file stream produce exactly the batch result."""

from __future__ import annotations

import pytest

from clinvar_pipeline_spark.streaming.corpus import (
    DOCUMENT_SCHEMA,
    gates_stream,
    read_document_stream,
    scrub_stream,
)


@pytest.fixture(scope="module")
def doc_stream_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("doc_stream")
    rows1 = [
        (1, "mail me at a@b.co twice a@b.co", "en", "s", 30),
        (2, "spam spam spam spam spam alpha beta gamma delta epsilon",
         "en", "s", 55),
    ]
    rows2 = [
        (3, "ip 10.0.0.1 card 1234-5678-9012-3456", "en", "s", 36),
        (4, "one two three four five six seven eight nine ten", "en",
         "s", 48),
    ]
    for rows in (rows1, rows2):  # two drops = two micro-batches
        spark.createDataFrame(rows, DOCUMENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(d / "documents"))
    return str(d / "documents")


def _run(spark, stream_df, tmpdir, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ckpt_{name}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_streaming_scrub_equals_batch(spark, doc_stream_dir, tmp_path):
    got = _run(
        spark,
        scrub_stream(read_document_stream(spark, doc_stream_dir)),
        tmp_path,
        "scrub_out",
    )
    want = scrub_stream(spark.read.parquet(doc_stream_dir))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    by_id = {r["doc_id"]: r for r in got.collect()}
    assert by_id[1]["n_email"] == 2
    assert "<EMAIL>" in by_id[1]["text_scrubbed"]
    assert (by_id[3]["n_ip"], by_id[3]["n_card"]) == (1, 1)


def test_streaming_gates_equal_batch(spark, doc_stream_dir, tmp_path):
    got = _run(
        spark,
        gates_stream(read_document_stream(spark, doc_stream_dir)),
        tmp_path,
        "gates_out",
    )
    want = gates_stream(spark.read.parquet(doc_stream_dir))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    by_id = {r["doc_id"]: r for r in got.collect()}
    assert by_id[2]["gate_pass"] == 0  # 'spam' dominates
    assert by_id[4]["gate_pass"] == 1


def test_streaming_jsonl_ingest_scrub(spark, tmp_path):
    from clinvar_pipeline_spark.streaming.corpus import (
        read_document_stream_jsonl,
    )

    d = tmp_path / "jl"
    d.mkdir()
    (d / "b1.jsonl").write_text(
        '{"doc_id": 1, "text": "mail x@y.zz here", "lang": "en",'
        ' "source": "s"}\n'
        "BROKEN LINE\n",
        "utf-8",
    )
    (d / "b2.jsonl").write_text(
        '{"doc_id": 2, "text": "nothing private", "lang": "en",'
        ' "source": "s"}\n',
        "utf-8",
    )
    out = _run(
        spark,
        scrub_stream(read_document_stream_jsonl(spark, str(d))),
        tmp_path,
        "jsonl_scrub_out",
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2}  # corrupt line dropped, not fatal
    assert rows[1]["n_email"] == 1
    assert rows[1]["text_scrubbed"] == "mail <EMAIL> here"
    assert rows[2]["n_email"] == 0


def test_streaming_decontaminate_matches_batch(spark, tmp_path):
    """The streaming twin must reproduce the batch decontaminate
    query's rows exactly for the same corpus and eval slice."""
    import clinvar_pipeline_spark.queries_llm as ql
    from clinvar_pipeline_spark.streaming.corpus import (
        decontaminate_stream,
        eval_shingle_hashes,
    )

    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "en", "s", 36),
        (5, "alpha beta gamma delta epsilon zeta", "en", "s", 36),
        (6, "alpha beta gamma completely different tail words", "en",
         "s", 48),
        (7, "quick brown fox jumps over lazy dog", "en", "s", 35),
    ]
    d = tmp_path / "docs"
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.parquet(str(d))
    batch_docs = spark.read.parquet(str(d))
    # eval slice = doc_id % 97 == 0 (the batch query's slice)
    ev = eval_shingle_hashes(batch_docs.filter("doc_id % 97 = 0"))
    from clinvar_pipeline_spark.streaming.corpus import (
        DOCUMENT_SCHEMA,
    )

    stream = spark.readStream.schema(DOCUMENT_SCHEMA).parquet(str(d))
    got = _run(
        spark,
        decontaminate_stream(
            stream.filter("doc_id % 97 <> 0"), ev
        ),
        tmp_path,
        "decontam_stream_out",
    )
    # batch twin over the same parquet dir layout
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    want_rows = sorted(
        map(tuple, ql.q_decontaminate(spark, str(tmp_path)).collect())
    )
    got_rows = sorted(map(tuple, got.collect()))
    assert got_rows == want_rows
    assert len(got_rows) == 2  # docs 5 (full copy) and 6 (one window)


def test_streaming_quality_serve_equals_batch_query(
    spark, tmp_path_factory, tmp_path
):
    """Batch-train the quality model, serve it on a stream: scores,
    rounding, and flags equal the batch quality_classifier query on
    the same corpus."""
    import clinvar_pipeline_spark.queries_llm as ql
    from clinvar_pipeline_spark.streaming.corpus import (
        quality_stream,
        train_quality_weights,
    )

    d = tmp_path_factory.mktemp("qserve")
    rows1 = [
        (0, "good prose good prose", "en", "s", 20),
        (7, "good prose prose", "en", "s", 16),
        (1, "spam junk spam junk", "en", "s", 19),
        (8, "spam junk junk", "en", "s", 14),
    ]
    rows2 = [
        (2, "good prose good", "en", "s", 15),
        (3, "spam junk junk junk", "en", "s", 19),
        (4, "zzz qqq", "en", "s", 7),
    ]
    for rows in (rows1, rows2):  # two drops = two micro-batches
        spark.createDataFrame(rows, DOCUMENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(d / "documents.parquet"))

    batch_docs = spark.read.parquet(str(d / "documents.parquet"))
    weights, wu = train_quality_weights(batch_docs)
    # the model is vocab-sized and covers exactly the training slices
    assert set(weights) == {"good", "prose", "spam", "junk"}
    assert weights["good"] > 0 > weights["spam"]

    got = _run(
        spark,
        quality_stream(
            read_document_stream(spark, str(d / "documents.parquet")),
            weights,
            wu,
        ),
        tmp_path,
        "quality_out",
    )
    want = ql.q_quality_classifier(spark, str(d))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    by_id = {r["doc_id"]: r for r in got.collect()}
    assert by_id[2]["keep_flag"] == 1
    assert by_id[3]["keep_flag"] == 0


# ---------------------------------------------------------------------
# incremental near-dup flagging (r7): two-batch drop, monotone subset
# ---------------------------------------------------------------------

def test_neardup_stream_subset_of_batch_verdicts(spark, tmp_path):
    """The incremental contract on a two-batch drop: batch 1 is the
    frozen corpus; batch 2 brings (a) a verbatim copy of a frozen doc
    -> flagged incrementally AND by the nightly batch pass, (b) a
    unique doc -> flagged by neither, (c) a new-vs-new duplicate pair
    -> INVISIBLE to the incremental flagger (neither side is in the
    frozen index) but flagged by the batch pass. Incremental flags
    must be a strict, consistent subset of the batch verdicts."""
    from clinvar_pipeline_spark.streaming.corpus import (
        DOCUMENT_SCHEMA,
        corpus_shingle_index,
        neardup_flag_batch,
        neardup_stream,
        read_document_stream,
    )

    base_text = "the quick brown fox jumps over the lazy dog tonight"
    rows1 = [
        (1, base_text, "en", "s", len(base_text)),
        (2, "completely different content about spark and parquet io",
         "en", "s", 55),
    ]
    new_dup_text = "fresh duplicated arrival text that repeats exactly"
    rows2 = [
        (3, base_text, "en", "s", len(base_text)),        # copy of 1
        (4, "entirely novel singleton document nothing shared here",
         "en", "s", 53),                                   # unique
        (5, new_dup_text, "en", "s", len(new_dup_text)),   # new-vs-new
        (6, new_dup_text, "en", "s", len(new_dup_text)),   # new-vs-new
    ]
    drop = tmp_path / "docs"
    spark.createDataFrame(rows1, DOCUMENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(drop))
    # freeze the corpus index on the batch-1 state (first run)
    frozen = corpus_shingle_index(spark.read.parquet(str(drop)))
    frozen.write.parquet(str(tmp_path / "_corpus_shingles"))
    idx = spark.read.parquet(str(tmp_path / "_corpus_shingles"))
    # batch 2 arrives after the freeze
    spark.createDataFrame(rows2, DOCUMENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(drop))

    q = neardup_stream(
        read_document_stream(spark, str(drop)),
        idx,
        str(tmp_path / "neardup_flags"),
        str(tmp_path / "ckpt_neardup"),
    )
    q.awaitTermination(120)
    inc = {
        r["doc_id"]: r
        for r in spark.read.parquet(
            str(tmp_path / "neardup_flags")
        ).collect()
    }
    assert set(inc) == {1, 2, 3, 4, 5, 6}  # a verdict per arrival
    inc_flagged = {d for d, r in inc.items() if r["flag_neardup"] == 1}
    # the copy is caught on arrival; the frozen docs self-exclude
    assert inc[3]["containment"] == 1.0
    assert inc_flagged == {3}

    # the nightly batch pass: same containment statistic on the FULL
    # corpus index (self-excluded)
    full = spark.read.parquet(str(drop))
    batch = {
        r["doc_id"]: r
        for r in neardup_flag_batch(
            full, corpus_shingle_index(full)
        ).collect()
    }
    batch_flagged = {d for d, r in batch.items() if r["flag_neardup"] == 1}
    # monotone subset: every incremental flag is a batch flag...
    assert inc_flagged <= batch_flagged
    # ...and strictly: the new-vs-new pair only the batch pass sees
    assert batch_flagged == {1, 3, 5, 6}
    # per-doc monotonicity of the statistic itself
    for d in inc:
        assert inc[d]["containment"] <= batch[d]["containment"]


def test_streaming_langid_serve_equals_batch_query(
    spark, tmp_path_factory, tmp_path
):
    """Batch-train the langid model, serve it on a two-micro-batch
    stream: predictions, scores, rounding, and tie rule equal the
    batch langid query on the same corpus."""
    import clinvar_pipeline_spark.queries_llm as ql
    from clinvar_pipeline_spark.streaming.corpus import (
        langid_stream,
        load_langid_model,
        save_langid_model,
        train_langid_model,
    )

    d = tmp_path_factory.mktemp("lidserve")
    # disjoint charsets -> the model separates; doc 8 is two chars
    # (no trigram: must be absent); docs 4/9 land in the held-out
    # residue class (doc_id % 5 == 0 is held out for training only —
    # they are still served)
    rows1 = [
        (1, "abba baab abab aabb", "aa", "s", 19),
        (2, "kppk pkkp kpkp kkpp", "kk", "s", 19),
        (6, "abab aabb abba babb", "aa", "s", 19),
        (8, "ab", "aa", "s", 2),
    ]
    rows2 = [
        (3, "kpkp kkpp pkpp kppk", "kk", "s", 19),
        (5, "baab abba abab aabb", "aa", "s", 19),
        (10, "pkkp kppk kpkp pkpk", "kk", "s", 19),
    ]
    for rows in (rows1, rows2):  # two drops = two micro-batches
        spark.createDataFrame(rows, DOCUMENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(d / "documents.parquet"))

    batch_docs = spark.read.parquet(str(d / "documents.parquet"))
    models, wu = train_langid_model(batch_docs)
    assert set(models) == {"aa", "kk"} == set(wu)

    got = _run(
        spark,
        langid_stream(
            read_document_stream(spark, str(d / "documents.parquet")),
            models,
            wu,
        ),
        tmp_path,
        "langid_out",
    )
    want = ql.q_langid(spark, str(d))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    by_id = {r["doc_id"]: r for r in got.collect()}
    assert 8 not in by_id  # no trigram -> absent, as in batch
    # held-out docs are served and separable-fixture-correct
    assert by_id[10]["pred_lang"] == "kk" and by_id[10]["is_correct"] == 1

    # model artifact round-trip (the frozen-at-first-run lifecycle)
    save_langid_model(spark, models, wu, str(tmp_path / "_lid"))
    m2, wu2 = load_langid_model(spark, str(tmp_path / "_lid"))
    assert m2 == models and wu2 == wu
    assert load_langid_model(spark, str(tmp_path / "_never")) is None


def test_cm_stream_snapshot_equals_batch_and_replay_safe(spark, tmp_path):
    """Streamed Count-Min over a two-batch drop: the landed snapshot
    must equal the whole-corpus batch sketch CELL-FOR-CELL (counters
    are linear: epoch-delta sums == union sketch), and replaying an
    epoch (foreachBatch at-least-once delivery) must NOT
    double-count — the epoch-keyed delta overwrite is the idempotent
    sink that makes ADD-merge exactly-once."""
    from clinvar_pipeline_spark.queries_curation import cm_sketch_frame
    from clinvar_pipeline_spark.streaming.corpus import (
        DOCUMENT_SCHEMA,
        cm_delta_batch,
        cm_snapshot,
        cm_stream,
    )

    rows1 = [
        (1, "spark join hash row batch scan", "en", "s", 31),
        (2, "row row row value table part", "en", "s", 29),
    ]
    rows2 = [
        (3, "spark spark merge window group", "en", "s", 30),
        (4, "table scan filter key sort agg", "en", "s", 30),
    ]
    drop = tmp_path / "docs"
    for rows in (rows1, rows2):
        spark.createDataFrame(rows, DOCUMENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(drop))

    # maxFilesPerTrigger guarantees >= 2 epochs (one per file)
    docs = spark.readStream.schema(DOCUMENT_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(drop))
    q = cm_stream(
        docs,
        str(tmp_path / "_cm_deltas"),
        str(tmp_path / "cm_sketch"),
        str(tmp_path / "ckpt_cm"),
    )
    q.awaitTermination(120)

    def cells(df):
        return {(r["j"], r["b"]): r["c"] for r in df.collect()}

    snap = cells(spark.read.parquet(str(tmp_path / "cm_sketch")))
    batch = cells(cm_sketch_frame(spark.read.parquet(str(drop))))
    assert snap == batch
    assert len({k for k in snap}) > 0

    # replay epoch 0: re-landing the same delta must leave the
    # snapshot sum unchanged (overwrite, not append)
    b1 = spark.createDataFrame(rows1, DOCUMENT_SCHEMA)
    cm_delta_batch(b1, 0, str(tmp_path / "_cm_deltas"))
    assert cells(cm_snapshot(spark, str(tmp_path / "_cm_deltas"))) == batch


def test_media_features_stream_equals_batch(spark, tmp_path):
    """Streamed full-ladder feature extraction (map-only, r8): rows
    drained over two micro-batches must be byte-identical to the
    batch kernel on the union — including a real decodable payload
    so a media tier (not just byte) rides the stream."""
    from clinvar_pipeline_spark.functions.codec_oracle import wav_encode
    from clinvar_pipeline_spark.operators.multimodal import (
        attach_binary,
        extract_media_features,
    )
    from clinvar_pipeline_spark.streaming.corpus import (
        DOCUMENT_SCHEMA,
        media_features_stream,
    )

    # the text column roundtrips through UTF-8, so the payload must be
    # ASCII-safe byte-for-byte: 8-bit PCM with samples in [-128, -1]
    # stores bytes 0..127, and this stream's RIFF/fmt/data size fields
    # are all < 0x80 too — a REAL decodable WAV that survives encode()
    wav_bytes = wav_encode(
        [-(i % 80) - 1 for i in range(80)], bits=8
    )  # 80 samples keeps the RIFF size field itself < 0x80
    assert max(wav_bytes) < 0x80
    wav_text = wav_bytes.decode("ascii")
    rows1 = [(1, "plain text document one", "en", "s", 23),
             (2, wav_text, "en", "s", len(wav_text))]
    rows2 = [(3, "another plain document", "en", "s", 22)]
    drop = tmp_path / "docs"
    for rows in (rows1, rows2):
        spark.createDataFrame(rows, DOCUMENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(drop))

    docs = spark.readStream.schema(DOCUMENT_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(drop))
    q = (
        media_features_stream(docs)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "feats"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def rows(df):
        return sorted(
            (r["id"], r["dim"], r["value"], r["feature_tier"])
            for r in df.collect()
        )

    got = rows(spark.read.parquet(str(tmp_path / "feats")))
    batch = rows(
        extract_media_features(
            attach_binary(spark.read.parquet(str(drop)), "doc_id", "text")
        )
    )
    assert got == batch
    tiers = {t for (_, _, _, t) in got}
    assert tiers == {"byte", "pcm"}  # a real decode tier streamed
