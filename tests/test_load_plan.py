"""End-to-end --load plan test: fixture XML -> extract -> load against
an empty snapshot, then re-run against the produced snapshot (the
snapshot-functional formulation makes idempotence an exact property:
second run must classify everything UNCHANGED and touch nothing)."""

import pytest
from pyspark.sql import functions as F

from clinvar_pipeline_spark.operators.diff_sync import CHANGE_COL
from clinvar_pipeline_spark.plans.load import (
    empty_snapshot,
    load_run,
    read_snapshot,
    write_snapshot,
)
from clinvar_pipeline_spark.sources.vcv_xml import read_vcv_xml
from tests.test_vcv_xml import (
    FULL_RECORD,
    GENOTYPE,
    HAPLOTYPE,
    HEADER,
    MINUS_RECORD,
    MULTI_ALLELE,
    TRAILER,
)


@pytest.fixture(scope="module")
def archive(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("vcv_load") / "release.xml"
    p.write_text(
        HEADER + FULL_RECORD + MULTI_ALLELE + GENOTYPE + HAPLOTYPE + MINUS_RECORD + TRAILER,
        encoding="utf-8",
    )
    return read_vcv_xml(spark, str(p))


@pytest.fixture(scope="module")
def genes_dim(spark):
    return spark.createDataFrame(
        [
            (101, "9907", "AP5Z1"),
            (102, "1111", "OTHER"),
            (103, "2222", "UNRELATED"),
        ],
        "gene_rgd_id long, gene_id string, symbol string",
    )


@pytest.fixture(scope="module")
def first_run(spark, archive, genes_dim, tmp_path_factory):
    res = load_run(archive, empty_snapshot(spark), genes_dim)
    # persist the snapshot as production would (Parquet between runs);
    # re-reading truncates lineage for every downstream assertion
    path = str(tmp_path_factory.mktemp("snap") / "run1")
    write_snapshot(res.snapshot, path)
    res.snapshot = read_snapshot(spark, path)
    return res


def test_first_run_inserts(first_run):
    counters = {
        r["counter"]: r["value"] for r in first_run.counters.collect()
    }
    # 2 simple records (full + minus), others skipped by kind
    assert counters["RECORDS_SIMPLE"] == 2
    assert counters["RECORDS_MULTI_ALLELE"] == 1
    assert counters["RECORDS_GENOTYPE"] == 1
    assert counters["RECORDS_HAPLOTYPE"] == 1
    assert counters["VARIANTS_INSERT"] == 2
    assert "VARIANTS_UPDATE" not in counters
    assert counters["GENE_ASSOCIATIONS_INSERT"] == 2  # AP5Z1 + OTHER
    assert counters["MAP_POSITIONS_INSERT"] == 2  # GRCh38 + GRCh37
    assert counters["HGVS_NAMES_INSERT"] == 2
    # F3 canaries (Parser.java:449-458): MINUS_RECORD is
    # RecordStatus=replaced + Species=Mus musculus
    assert counters["NON_CURRENT_RECORD"] == 1
    assert counters["NON_HUMAN_SPECIES"] == 1


def test_counters_equal_plain_recount(spark, archive, genes_dim, first_run):
    """load_run's counters come from Observation metrics on the one XML
    scan and one groupBy over the checkpointed diffs. Pin them
    row-for-row against plain groupBys over the archive and the
    returned diffs, on a first run (INSERTs) and a re-run (UNCHANGED).
    The fixture holds every record kind and both canaries, so a
    record_kind == 'simple' filter pushed below the observation would
    drop the skipped kinds and fail here."""
    from clinvar_pipeline_spark.plans.load import build_incoming_variants, entry_class

    def recount(df, counter):
        return {
            r["counter"]: r["count"]
            for r in df.groupBy(counter.alias("counter")).count().collect()
        }

    archive_want = (
        recount(archive, F.concat(F.lit("RECORDS_"), F.upper("record_kind")))
        | recount(
            archive.filter(F.coalesce("record_status", F.lit("")) != "current"),
            F.lit("NON_CURRENT_RECORD"),
        )
        | recount(
            archive.filter(F.coalesce("species", F.lit("")) != "Homo sapiens"),
            F.lit("NON_HUMAN_SPECIES"),
        )
        | recount(build_incoming_variants(archive), entry_class())
    )
    assert {
        "RECORDS_SIMPLE",
        "RECORDS_MULTI_ALLELE",
        "RECORDS_GENOTYPE",
        "RECORDS_HAPLOTYPE",
        "NON_CURRENT_RECORD",
        "NON_HUMAN_SPECIES",
    } <= set(archive_want)
    rerun = load_run(archive, first_run.snapshot, genes_dim)
    for res in (first_run, rerun):
        want = dict(archive_want)
        for entity, diff in res.diffs.items():
            want |= recount(diff, F.concat(F.lit(entity + "_"), F.col(CHANGE_COL)))
        got = sorted((r["counter"], r["value"]) for r in res.counters.collect())
        assert got == sorted(want.items())
    assert {c for c, _ in got} >= {"VARIANTS_UNCHANGED", "XDB_IDS_UNCHANGED"}


def test_variant_fields(first_run):
    vars_ = {r["symbol"]: r for r in first_run.snapshot.variants.collect()}
    v = vars_["CV26042"]
    assert v["object_type"] == "indel"
    assert v["so_acc_id"] == "SO:0001589"  # from XML, first-wins
    assert v["trait_name"] == "Hereditary spastic paraplegia 48 [RCV000000012]"
    # M1 sorted-set: org abbrevs + submitter names + additional
    # submitters merged (Parser.java:505-524)
    assert v["submitter"] == "Extra Lab|OMIM|PBI|Paris Brain Institute"
    assert v["clinical_significance"] == "pathogenic|somatic clinical impact: tier i"
    assert v["review_status"] == (
        "criteria provided, single submitter|no assertion criteria provided"
    )
    assert v["method_type"] == "literature only"
    assert v["notes"] == "a note from OMIM"
    assert str(v["date_last_evaluated"]) == "2021-05-28"
    # minimal record: SO derived from variant type (F12)
    v2 = vars_["CV55"]
    assert v2["so_acc_id"] == "SO:0000159"  # deletion
    assert v2["trait_name"] is None


def test_xdb_ids(first_run):
    x = first_run.snapshot.xdb_ids
    rows = {
        (r["xdb_key"], r["acc_id"]) for r in x.collect()
    }
    assert (52, "RCV000000012") in rows and (52, "RCV000000013") in rows
    assert (3, "9907") in rows  # NCBI gene
    assert (21, "HGNC:22197") in rows
    assert (53, "613653.0001") in rows  # OMIM allele
    assert (6, "613653") in rows  # OMIM split
    assert (48, "397704705") in rows  # dbSNP rs
    assert (2, "20613862") in rows and (2, "33098801") in rows  # PMIDs
    assert (54, "C3150901") in rows  # MedGen CUI (None filtered)
    rs = {r["link_text"] for r in x.filter(F.col("xdb_key") == 48).collect()}
    assert rs == {"rs397704705"}


def test_map_positions(first_run):
    m = {
        (r["map_key"], r["chromosome"]): r
        for r in first_run.snapshot.map_positions.collect()
    }
    assert (38, "7") in m and (17, "7") in m
    assert m[(38, "7")]["fish_band"] == "7p22.1"  # F9 cyto match
    assert m[(38, "7")]["start_pos"] == 4775623


def test_aliases_filtered(first_run):
    # MedGen names: preferred name equals trait -> dropped (F5);
    # 'unassigned' survives
    al = [r["value"] for r in first_run.snapshot.aliases.collect()]
    assert al == ["unassigned"]


def test_idempotent_second_run(spark, archive, genes_dim, first_run):
    second = load_run(archive, first_run.snapshot, genes_dim)
    classes = {
        r[CHANGE_COL] for r in second.variant_diff.select(CHANGE_COL).collect()
    }
    assert classes == {"UNCHANGED"}
    counters = {r["counter"]: r["value"] for r in second.counters.collect()}
    assert counters.get("VARIANTS_UNCHANGED") == 2
    for entity in ["XDB_IDS", "GENE_ASSOCIATIONS", "MAP_POSITIONS", "HGVS_NAMES", "ALIASES"]:
        assert f"{entity}_INSERT" not in counters, entity
        assert f"{entity}_UPDATE" not in counters, entity
        assert f"{entity}_DELETE" not in counters, entity
    # stale guard: everything touched -> nothing stale
    assert second.stale_xdb.stale_count == 0
    assert not second.stale_xdb.aborted
    # snapshot equality: same variant rows (incl. untouched last_modified)
    a = first_run.snapshot.variants.orderBy("rgd_id").collect()
    b = second.snapshot.variants.orderBy("rgd_id").collect()
    assert a == b


def test_stale_xdb_guard_deletes_below_threshold(spark, archive, genes_dim, first_run):
    """W4 wiring: a prev xdb row of a variant absent from the run whose
    modification_date predates the cutoff is deleted when the stale set
    is under 8%; rows inside the grace window survive with their prior
    modification_date, and touched rows get the run timestamp."""
    import datetime

    from clinvar_pipeline_spark.plans.load import (
        XDB_IDS_SCHEMA,
        Snapshot,
        load_run,
    )

    grace = [
        (9000 + i, 99, f"ACC{i}", None, None,
         datetime.datetime(2025, 12, 31, 12, 0))
        for i in range(13)
    ]
    old = [(8888, 99, "OLD", None, None, datetime.datetime(2020, 1, 1, 0, 0))]
    extra = spark.createDataFrame(grace + old, XDB_IDS_SCHEMA)
    prev = Snapshot(
        **{
            **first_run.snapshot.__dict__,
            "xdb_ids": first_run.snapshot.xdb_ids.unionByName(extra),
        }
    )
    res = load_run(archive, prev, genes_dim)
    assert not res.stale_xdb.aborted
    assert res.stale_xdb.stale_count == 1
    nxt = {r["acc_id"]: r for r in res.snapshot.xdb_ids.collect()}
    assert "OLD" not in nxt  # stale, beyond grace -> deleted
    assert "ACC0" in nxt  # grace window -> kept
    assert nxt["ACC0"]["modification_date"] == datetime.datetime(2025, 12, 31, 12, 0)
    # touched row stamped with the run timestamp
    assert nxt["RCV000000012"]["modification_date"] == datetime.datetime(2026, 1, 1)


def test_stale_xdb_guard_abort_keeps_rows(spark, archive, genes_dim, first_run):
    """W4 circuit breaker: stale fraction above 8% aborts the delete —
    every prev row survives into the next snapshot (Dao.java:409-436)."""
    import datetime

    from clinvar_pipeline_spark.plans.load import (
        XDB_IDS_SCHEMA,
        Snapshot,
        load_run,
    )

    old = [
        (8000 + i, 99, f"STALE{i}", None, None,
         datetime.datetime(2020, 1, 1, 0, 0))
        for i in range(5)
    ]
    extra = spark.createDataFrame(old, XDB_IDS_SCHEMA)
    prev = Snapshot(
        **{
            **first_run.snapshot.__dict__,
            "xdb_ids": first_run.snapshot.xdb_ids.unionByName(extra),
        }
    )
    res = load_run(archive, prev, genes_dim)
    assert res.stale_xdb.aborted
    assert res.stale_xdb.stale_count == 5
    accs = {r["acc_id"] for r in res.snapshot.xdb_ids.collect()}
    assert {f"STALE{i}" for i in range(5)} <= accs


def test_bucketed_diff_is_shuffle_free(spark, tmp_path):
    """SURVEY §4/§7: with both snapshot sides bucketed by the diff key,
    the full-outer diff_sync join must plan with ZERO Exchange nodes —
    the nightly run's only fact-fact shuffle disappears."""
    from clinvar_pipeline_spark.operators.diff_sync import diff_sync
    from clinvar_pipeline_spark.plans.load import (
        Snapshot,
        empty_snapshot,
        read_snapshot_bucketed,
        write_snapshot_bucketed,
    )

    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for prefix in ("bkt_prev", "bkt_inc"):
        for entity in (
            "variants xdb_ids gene_associations map_positions "
            "hgvs_names aliases".split()
        ):
            shutil.rmtree(f"{wh}/{prefix}_{entity}", ignore_errors=True)

    base = empty_snapshot(spark)
    old = Snapshot(
        **{
            name: getattr(base, name)
            for name in (
                "variants xdb_ids gene_associations map_positions "
                "hgvs_names aliases".split()
            )
        }
    )
    rows_old = spark.createDataFrame(
        [(i, "t", f"n{i}") for i in range(100)], "rgd_id long, type string, name string"
    )
    rows_new = spark.createDataFrame(
        [(i, "t", f"n{i % 7}") for i in range(50, 150)],
        "rgd_id long, type string, name string",
    )
    old = Snapshot(**{**old.__dict__, "hgvs_names": rows_old})
    new = Snapshot(**{**old.__dict__, "hgvs_names": rows_new})
    write_snapshot_bucketed(old, "bkt_prev", n_buckets=4)
    write_snapshot_bucketed(new, "bkt_inc", n_buckets=4)
    prev = read_snapshot_bucketed(spark, "bkt_prev")
    inc = read_snapshot_bucketed(spark, "bkt_inc")

    diff = diff_sync(
        inc.hgvs_names, prev.hgvs_names, key_cols=["rgd_id"],
        compare_cols=["type", "name"], null_safe_keys=False,
    )
    plan = diff._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    # and the diff itself is still correct
    counts = {r["change_type"]: r["count"] for r in diff.groupBy("change_type").count().collect()}
    assert counts.get("INSERT") == 50 and counts.get("DELETE") == 50
