"""End-to-end --load plan test: fixture XML -> extract -> load against
an empty snapshot, then re-run against the produced snapshot (the
snapshot-functional formulation makes idempotence an exact property:
second run must classify everything UNCHANGED and touch nothing)."""

import pytest
from pyspark.sql import functions as F

from clinvar_pipeline_spark.operators.diff_sync import CHANGE_COL
from clinvar_pipeline_spark.plans.load import (
    RS_SNAPSHOT_SCHEMAS,
    SNAPSHOT_SCHEMAS,
    Snapshot,
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


def test_collection_values_match_per_column_groupby(spark):
    """The folded M6-M8 collections equal one plain groupBy per column
    (split on '|', TreeSet the non-empty parts, join, byte-trim), with
    null where a column has no non-blank value for an rgd_id."""
    from clinvar_pipeline_spark.config import COLUMN_BYTE_BUDGETS
    from clinvar_pipeline_spark.functions.text import byte_trim
    from clinvar_pipeline_spark.plans.load import COLLECTION_JOINERS, collection_values

    # notes whose sorted set joins to well over its 4,000-byte budget,
    # with multibyte parts so the trim must not split a character
    long_notes = "|".join(f"note {i:04d} — ünïcødé padding text" for i in range(150))
    df = spark.createDataFrame(
        [
            (1, None, "a||b", "x|y"),
            (1, "   ", "b|c", "y"),
            (1, "n2|n1", "b", None),
            (2, "n1|n2", None, "|"),
            (3, long_notes, " ", None),
            (3, "extra|note 0001 — ünïcødé padding text", None, "  s |t"),
            (4, None, None, None),
        ],
        "rgd_id long, notes string, trait_name string, submitter string",
    )

    def reference(col: str, joiner: str):
        parts = F.explode(F.split(F.col(col), "\\|")).alias("part")
        agg = (
            df.filter(F.col(col).isNotNull() & (F.trim(col) != ""))
            .select("rgd_id", parts)
            .filter(F.col("part") != "")
            .groupBy("rgd_id")
            .agg(F.concat_ws(joiner, F.array_sort(F.collect_set("part"))).alias("_v"))
        )
        return agg.select(
            "rgd_id", byte_trim(F.col("_v"), COLUMN_BYTE_BUDGETS[col]).alias(col)
        )

    want = df.select("rgd_id").distinct()
    for col, joiner in COLLECTION_JOINERS.items():
        want = want.join(reference(col, joiner), "rgd_id", "left")
    cols = ["rgd_id", *COLLECTION_JOINERS]
    got = sorted(collection_values(df).select(cols).collect())
    assert got == sorted(want.select(cols).collect())
    by_id = {r["rgd_id"]: r for r in got}
    assert by_id[1]["trait_name"] == "a|b|c" and by_id[1]["notes"] == "n1; n2"
    assert by_id[2]["submitter"] is None and by_id[3]["trait_name"] is None
    assert by_id[3]["notes"].endswith(" ...")
    assert len(by_id[3]["notes"].encode("utf-8")) <= COLUMN_BYTE_BUDGETS["notes"]
    assert by_id[3]["submitter"] == "  s |t"
    assert all(by_id[4][c] is None for c in COLLECTION_JOINERS)


def _python_rdd_in_lineage(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def test_list_built_load_frames_skip_python_workers(spark, archive):
    """Frames the load builds from driver-side lists (the empty first-run
    snapshot, the xref -> xdb_key map, the assembly map) reach the JVM
    as local relations: no PythonRDD, so no Python-worker job."""
    from clinvar_pipeline_spark.plans.load import (
        build_incoming_map_positions,
        build_incoming_variants,
        dispatch_xrefs,
    )

    snap = empty_snapshot(spark)
    for name in snap.__dict__:
        assert not _python_rdd_in_lineage(getattr(snap, name)), name
    inc = build_incoming_variants(archive)
    assert not _python_rdd_in_lineage(inc)
    xrefs, unknown = dispatch_xrefs(inc)
    assert not _python_rdd_in_lineage(xrefs)
    assert not _python_rdd_in_lineage(unknown)
    assert not _python_rdd_in_lineage(build_incoming_map_positions(inc))
    # the guard: a list-built frame does show up
    assert _python_rdd_in_lineage(spark.createDataFrame([(1,)], "a int"))


def _fields(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def test_declared_snapshot_schemas_equal_inferred(spark, archive, genes_dim, tmp_path):
    """read_snapshot declares each table's schema instead of inferring
    it; on what write_snapshot lands, a first run and a re-run, the
    declared and the inferred reads agree on field names, order and
    types. So does the rs_id-carrying read of an --addRsIds snapshot."""
    from clinvar_pipeline_spark.plans.vcf import assign_rs_from_xdb

    snap = empty_snapshot(spark)
    for run in ("first", "rerun"):
        path = str(tmp_path / run)
        write_snapshot(load_run(archive, snap, genes_dim).snapshot, path)
        snap = read_snapshot(spark, path)
        for name in SNAPSHOT_SCHEMAS:
            inferred = spark.read.parquet(f"{path}/{name}").schema
            assert _fields(getattr(snap, name).schema) == _fields(inferred), (run, name)
    rs_path = str(tmp_path / "with_rs")
    write_snapshot(
        Snapshot(**{**snap.__dict__, "variants": assign_rs_from_xdb(snap.variants, snap.xdb_ids)}),
        rs_path,
    )
    rs_snap = read_snapshot(spark, rs_path, RS_SNAPSHOT_SCHEMAS)
    for name in RS_SNAPSHOT_SCHEMAS:
        inferred = spark.read.parquet(f"{rs_path}/{name}").schema
        assert _fields(getattr(rs_snap, name).schema) == _fields(inferred), name
    assert rs_snap.variants.filter(F.col("rs_id").isNotNull()).count() > 0


def test_read_snapshot_runs_no_job(spark, tmp_path):
    """A declared-schema read plans without touching the files; an
    undeclared one runs a Parquet schema-inference job per table."""
    sc = spark.sparkContext
    path = str(tmp_path / "snap")
    write_snapshot(empty_snapshot(spark), path)

    def jobs_of(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)
        return sc.statusTracker().getJobIdsForGroup(group)

    assert jobs_of("read-snapshot-declared", lambda: read_snapshot(spark, path)) == []
    assert jobs_of(
        "read-snapshot-rs", lambda: read_snapshot(spark, path, RS_SNAPSHOT_SCHEMAS)
    ) == []
    # the guard: the same table read without a schema does run one
    assert jobs_of(
        "read-snapshot-inferred", lambda: spark.read.parquet(f"{path}/variants")
    ) != []


def executed_plans(spark, action) -> list[str]:
    """The physical plans of the SQL executions ``action`` ran, as the
    SQL status store records them (with or without a UI)."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    before = execs.last().executionId() if execs.size() else -1
    action()
    execs = store.executionsList()
    plans = []
    for i in range(execs.size() - 1, -1, -1):
        e = execs.apply(i)
        if e.executionId() <= before:
            break
        plans.append(e.physicalPlanDescription())
    return plans


def python_stages(plans: list[str]) -> int:
    from clinvar_pipeline_spark.audit import plan_signature

    return sum(plan_signature(p).get("python", 0) for p in plans)


def test_load_and_variants_write_run_no_python(spark, archive, genes_dim, first_run, tmp_path):
    """The load phase of a nightly, through the variants write (the
    collections' byte trims), runs no Python-eval stage: no Python
    worker starts."""
    from pyspark.sql.functions import pandas_udf

    def load_and_write():
        res = load_run(archive, first_run.snapshot, genes_dim)
        res.snapshot.variants.write.parquet(str(tmp_path / "variants"))

    plans = executed_plans(spark, load_and_write)
    assert any("InsertIntoHadoopFsRelationCommand" in p for p in plans)
    assert python_stages(plans) == 0

    # the guard: a pandas UDF in a write shows up in its executed plan
    @pandas_udf("string")
    def same(s):
        return s

    guard = executed_plans(
        spark,
        lambda: spark.range(1)
        .select(same(F.lit("x")).alias("x"))
        .write.parquet(str(tmp_path / "guard")),
    )
    assert python_stages(guard) == 1
