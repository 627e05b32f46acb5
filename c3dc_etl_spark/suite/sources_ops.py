"""Sources-layer suite queries (S2/S3/S5/S7, P1, P3).

These read the COMMITTED fixtures under tests/fixtures/ through the
c3dc_etl_spark.sources readers; the DuckDB oracles read the same files
with read_csv/read_json and restate the semantics. Fixture inputs are
identical at every scale factor — the queries verify reader behavior,
not volume.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c3dc_etl_spark.sources import (
    read_delimited,
    read_manifest,
    read_subject_documents,
    read_subject_documents_collated,
)
from c3dc_etl_spark.suite.registry import query

FIXTURES = pathlib.Path(__file__).resolve().parents[2] / "tests" / "fixtures"
TSV = str(FIXTURES / "clinical.tsv")
SUBJECTS = str(FIXTURES / "subjects")
SUBJECTS_DUP = str(FIXTURES / "subjects_dup")
MANIFEST = str(FIXTURES / "manifest.csv")

SUBJECT_FIELDS = ("DM_SEX", "DM_BRTHDAT", "FU_STATUS", "FU_AGE")

_DELIMITED_ORACLE = f"""
SELECT id, name, dose,
       ROW_NUMBER() OVER (ORDER BY CAST(id AS BIGINT)) + 1 AS source_file_row_num
FROM read_csv('{TSV}', delim='\t', header=true, all_varchar=true)
WHERE id IS NOT NULL AND TRIM(id) <> ''
"""


@query("source_delimited_scan", oracle=_DELIMITED_ORACLE, tags=("source",))
def source_delimited_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+S3+P1+P3 through sources.read_delimited: TSV scan with all
    cells untyped, blank-header column pruned, blank-id rows dropped,
    then scan-order row numbers starting at 2 (petl.addrownumbers
    parity) assigned inside the scan, without a sort or a shuffle.
    Fixture ids ascend in file order, so the oracle can restate scan
    order as ORDER BY id."""
    return read_delimited(
        spark, TSV, sep="\t", prune_headerless=True, id_column="id", row_numbers=True
    )


@query("storage_staged_scan", oracle=_DELIMITED_ORACLE, tags=("source",))
def storage_staged_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 (storage abstraction) behind an oracle row: the committed TSV
    fixture is staged through sources.storage.stage_to_local from a
    ``file://`` URL — the reference's temp-copy pattern for remote
    config artifacts (file_manager/c3dc_file_manager.py:174-288) with
    its download-size guard and the atomic tempfile + os.replace landing
    — then scanned from the STAGED path through the delimited reader
    after sources.storage.normalize_path. The oracle reads the ORIGINAL
    fixture, so any staging corruption (truncation, partial copy, buggy
    replace) is a value-hash mismatch; the byte count returned by the
    stager is asserted against the source size."""
    import os
    import tempfile

    from c3dc_etl_spark.sources.storage import normalize_path, stage_to_local

    url = pathlib.Path(TSV).as_uri()
    fd, dest = tempfile.mkstemp(suffix=".tsv", prefix="s13_staged_")
    os.close(fd)  # pre-existing dest: exercises the replace-not-truncate path
    written = stage_to_local(url, dest)
    if written != os.path.getsize(TSV):
        raise AssertionError(
            f"staged byte count {written} != source size {os.path.getsize(TSV)}"
        )
    return read_delimited(
        spark,
        normalize_path(dest),
        sep="\t",
        prune_headerless=True,
        id_column="id",
        row_numbers=True,
    )


# Subject-document pivot: resolution rules restated in SQL
_JSONDIR_ORACLE = f"""
WITH docs AS (
    SELECT * FROM read_json('{SUBJECTS}/*.json')
),
subjects AS (
    SELECT participant.usi AS usi FROM docs
),
f1 AS (
    SELECT participant.usi AS usi,
           UNNEST(forms) AS form,
           GENERATE_SUBSCRIPTS(forms, 1) AS form_pos
    FROM docs
),
kv AS (
    SELECT usi, form_pos,
           GENERATE_SUBSCRIPTS(form.data, 1) AS field_pos,
           UNNEST(form.data) AS fld
    FROM f1
),
flat AS (
    SELECT usi, form_pos, field_pos,
           fld.form_field_id AS key, fld.value AS value
    FROM kv
),
resolved AS (
    SELECT usi, key, value,
           ROW_NUMBER() OVER (
               PARTITION BY usi, key
               ORDER BY CASE WHEN key = 'DM_BRTHDAT'
                             THEN TRY_CAST(value AS DOUBLE) END ASC NULLS LAST,
                        form_pos ASC, field_pos ASC
           ) AS rn
    FROM flat
)
SELECT s.usi,
       MIN(CASE WHEN r.key = 'DM_SEX' AND r.rn = 1 THEN r.value END) AS DM_SEX,
       MIN(CASE WHEN r.key = 'DM_BRTHDAT' AND r.rn = 1 THEN r.value END) AS DM_BRTHDAT,
       MIN(CASE WHEN r.key = 'FU_STATUS' AND r.rn = 1 THEN r.value END) AS FU_STATUS,
       MIN(CASE WHEN r.key = 'FU_AGE' AND r.rn = 1 THEN r.value END) AS FU_AGE
FROM subjects s
LEFT JOIN resolved r ON s.usi = r.usi
GROUP BY s.usi
"""


@query("source_jsondir_pivot", oracle=_JSONDIR_ORACLE, tags=("source",))
def source_jsondir_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S6 through sources.read_subject_documents: a directory of
    per-subject JSON docs becomes one wide row per subject in a single
    distributed read — posexplode(forms) -> posexplode(data) ->
    duplicate-field resolution window (DM_BRTHDAT most-negative rule;
    first-in-document-order otherwise, made deterministic by the array
    ordinals) -> explicit-values pivot (no distinct-values pre-job).
    A subject with no forms still yields a row (outer explodes)."""
    return read_subject_documents(
        spark,
        SUBJECTS,
        fields=SUBJECT_FIELDS,
        most_negative_fields=("DM_BRTHDAT",),
    )


# Golden vector, not a restatement: JSON permits DUPLICATE keys within
# one object, and every declarative reader (DuckDB read_json included)
# keeps exactly one occurrence — the semantics under test (collate all
# duplicate `data` lists, reference etl/mci/c3dc_etl.py:264-279) cannot
# be expressed in SQL over the raw files. The fixture is tiny and
# committed, so the expected pivot is enumerable: Q001 proves fields
# split across duplicate data keys both land; Q002 proves order (DM_SEX
# first-wins picks the FIRST data list's value — a last-wins dict parse
# would answer 'F') and the DM_BRTHDAT most-negative rule across
# duplicates; Q003 proves a formless subject still yields a row.
_JSONDUP_ORACLE = """
SELECT * FROM (VALUES
    ('Q001', 'F', '-150', 'Alive', '4100'),
    ('Q002', 'M', '-400', 'Dead',  CAST(NULL AS VARCHAR)),
    ('Q003', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
     CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR))
) AS t(usi, DM_SEX, DM_BRTHDAT, FU_STATUS, FU_AGE)
"""


@query("source_jsondir_dupkeys", oracle=_JSONDUP_ORACLE, tags=("source",))
def source_jsondir_dupkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 through sources.read_subject_documents_collated: whole-text
    file read + Arrow-batched collating JSON decode (object_pairs_hook
    keeps duplicate `data` keys), then the SAME resolution window +
    pivot as the declarative S5 path."""
    return read_subject_documents_collated(
        spark,
        SUBJECTS_DUP,
        fields=SUBJECT_FIELDS,
        most_negative_fields=("DM_BRTHDAT",),
    )


_MANIFEST_ORACLE = f"""
WITH subjects AS (
    SELECT participant.usi AS usi FROM read_json('{SUBJECTS}/*.json')
)
SELECT s.usi, m.guid, m.md5, m.size, m.url
FROM subjects s
JOIN read_csv('{MANIFEST}', header=true, all_varchar=true) m
  ON m.file_name = s.usi || '.json'
"""


@query("source_manifest_join", oracle=_MANIFEST_ORACLE, tags=("source",))
def source_manifest_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/J4 through sources.read_manifest: the manifest is a small
    keyed table (uniqueness asserted at read) broadcast-joined to the
    subject scan on file_name — the reference's per-subject dict lookup
    (etl/mci/c3dc_etl.py:941) as a plan-visible broadcast join."""
    subjects = read_subject_documents(
        spark, SUBJECTS, fields=SUBJECT_FIELDS, most_negative_fields=("DM_BRTHDAT",)
    ).select("usi")
    manifest = read_manifest(spark, MANIFEST, key_col="file_name")
    return subjects.join(
        F.broadcast(manifest),
        manifest["file_name"] == F.concat(F.col("usi"), F.lit(".json")),
    ).select("usi", "guid", "md5", "size", "url")


# Golden vector: the fixture workbook is committed and tiny, so the
# expected scan is enumerable (same style as source_jsondir_dupkeys).
# Covers untyped numeric cells (raw text '-150', '12.5' — no float
# round-trip), XML escapes, unicode, sparse/omitted cells -> NULL,
# boolean cells -> 'TRUE'/'FALSE', and the blank-header column prune.
_WORKBOOK_ORACLE = """
SELECT * FROM (VALUES
    ('Q001', 'F', '-150', 'first enrolled', 'Alive', '4100', 'TRUE'),
    ('Q002', 'M', '-400', 'transferred <&> ok', 'Dead',
     CAST(NULL AS VARCHAR), 'FALSE'),
    ('Q003', '', '0', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
     CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
    ('Q004', 'F', '12.5', 'décimal age', 'Alive', '5000', 'TRUE')
) AS t(upi, DM_SEX, DM_BRTHDAT, Notes, FU_STATUS, FU_AGE, FU_ACTIVE)
"""

WORKBOOK = str(FIXTURES / "study_workbook.xlsx")

_WORKBOOK_MAPPINGS = [
    {"output_field": "participant.participant_id", "source_field": "Demographics.upi"},
    {"output_field": "participant.sex_at_birth", "source_field": "Demographics.DM_SEX"},
    {"output_field": "survival.survival_id", "source_field": "FollowUp.upi"},
    {"output_field": "survival.last_known_survival_status",
     "source_field": "FollowUp.FU_STATUS"},
]


@query("source_workbook_scan", oracle=_WORKBOOK_ORACLE, tags=("source",))
def source_workbook_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S4+S3 through sources.workbook: per-node worksheet routing
    derived from mapping source-field prefixes (route_tabs), each routed
    worksheet scanned to an untyped string frame by the vendored
    pure-stdlib XLSX codec (sources/xlsx_lite.py — zip + SpreadsheetML;
    reference uses petl.fromxlsx, etl/ccdi/c3dc_etl.py:374-413), blank-
    header columns pruned, then the per-node tabs joined on the subject
    id (broadcast: workbooks are per-study, driver-sized)."""
    from c3dc_etl_spark.mapping.model import load_mappings
    from c3dc_etl_spark.sources.workbook import read_worksheet, route_tabs

    routes = route_tabs(load_mappings(_WORKBOOK_MAPPINGS))
    assert routes == {"participant": "Demographics", "survival": "FollowUp"}
    demo = read_worksheet(spark, WORKBOOK, routes["participant"])
    fu = read_worksheet(spark, WORKBOOK, routes["survival"])
    return demo.join(F.broadcast(fu), "upi", "left").select(
        "upi", "DM_SEX", "DM_BRTHDAT", "Notes",
        "FU_STATUS", "FU_AGE", "FU_ACTIVE",
    )


SUBJECTS_SPLIT = str(FIXTURES / "subjects_split")

# Golden vector (enumerable committed fixture): subject S001 is split
# across two files whose basenames sort a_alpha < z_beta. DM_SEX proves
# O7 — first-wins resolves to the lexicographically-first FILE ('F'),
# matching the reference's sorted source-file list
# (etl/mci/c3dc_etl.py:925-927); an unsorted glob order could answer
# 'M'. DM_BRTHDAT proves the most-negative rule still overrides file
# order (-500 lives in the LATER file); FU_STATUS proves a field only
# present in a later file still lands.
_JSONSPLIT_ORACLE = """
SELECT * FROM (VALUES
    ('S001', 'F', '-500', 'Alive', CAST(NULL AS VARCHAR)),
    ('S002', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 'Dead', '900')
) AS t(usi, DM_SEX, DM_BRTHDAT, FU_STATUS, FU_AGE)
"""


@query("source_jsondir_fileorder", oracle=_JSONSPLIT_ORACLE, tags=("source",))
def source_jsondir_fileorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7 through sources.read_subject_documents: cross-file duplicate
    resolution is pinned to sorted-file order by carrying
    input_file_name() into the resolution window — deterministic at any
    parallelism / split assignment, no driver-side file listing."""
    return read_subject_documents(
        spark,
        SUBJECTS_SPLIT,
        fields=SUBJECT_FIELDS,
        most_negative_fields=("DM_BRTHDAT",),
    )


_ORC_ORACLE = f"""
SELECT file_name, guid, md5, size, url
FROM read_csv('{FIXTURES / "manifest.csv"}', header=true, all_varchar=true)
"""


@query("source_orc_roundtrip", oracle=_ORC_ORACLE, tags=("sources",))
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format breadth beyond parquet: the manifest fixture goes
    through a write-ORC -> scan-ORC roundtrip (Spark's native ORC
    source, predicate-pushdown- and column-pruning-capable like the
    parquet path) and must come back value-identical. The oracle reads
    the same committed CSV — so the assertion covers the CSV scan, the
    ORC writer, and the ORC reader end to end."""
    import tempfile

    src = spark.read.csv(
        str(FIXTURES / "manifest.csv"), header=True, inferSchema=False
    )
    out = tempfile.mkdtemp(prefix="orc_roundtrip_")
    src.write.mode("overwrite").orc(out)
    return spark.read.orc(out).select("file_name", "guid", "md5", "size", "url")


_PARTITIONED_ORACLE = """
SELECT event_id, user_id, event_type
FROM events WHERE event_type IN ('signup', 'purchase')
"""


@query("sink_partitioned_pruning", oracle=_PARTITIONED_ORACLE, tags=("sources",))
def sink_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout — THE 100 TB table organization:
    events are written partitionBy(event_type), and the read back with
    an event_type predicate prunes to the two matching directories at
    PLANNING time (PartitionFilters in the scan, asserted in
    tests/test_sources.py) — the other partitions' files are never
    opened, let alone scanned. At scale this is the difference between
    reading 2/5 of the table and all of it."""
    import tempfile

    from c3dc_etl_spark.suite.registry import load as _load

    ev = _load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    out = tempfile.mkdtemp(prefix="part_events_")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out)
    return back.filter(
        F.col("event_type").isin("signup", "purchase")
    ).select("event_id", "user_id", "event_type")


_EVOLVE_ORACLE = f"""
SELECT file_name, guid, md5, size, url, NULL AS checksum_alg
FROM read_csv('{FIXTURES / "manifest.csv"}', header=true, all_varchar=true)
WHERE file_name <= 'P002.json'
UNION ALL
SELECT file_name, guid, md5, size, url, 'md5' AS checksum_alg
FROM read_csv('{FIXTURES / "manifest.csv"}', header=true, all_varchar=true)
WHERE file_name > 'P002.json'
"""


@query("source_schema_evolution", oracle=_EVOLVE_ORACLE, tags=("sources",))
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan: a dataset whose newer files carry an
    ADDED column (checksum_alg) reads as one table under
    mergeSchema=true — old files surface NULL for the new column, new
    files keep their values, by-name resolution throughout. This is how
    a 100 TB corpus absorbs schema growth without rewriting history."""
    import tempfile

    src = spark.read.csv(
        str(FIXTURES / "manifest.csv"), header=True, inferSchema=False
    )
    out = tempfile.mkdtemp(prefix="evolve_")
    src.filter(F.col("file_name") <= "P002.json").write.parquet(f"{out}/gen1")
    src.filter(F.col("file_name") > "P002.json").withColumn(
        "checksum_alg", F.lit("md5")
    ).write.parquet(f"{out}/gen2")
    return spark.read.option("mergeSchema", "true").parquet(
        f"{out}/gen1", f"{out}/gen2"
    ).select("file_name", "guid", "md5", "size", "url", "checksum_alg")


# Golden-vector oracle (committed fixture): PERMISSIVE-mode semantics —
# parseable fields survive, the malformed field nulls out, and the raw
# line is quarantined in the corrupt column for reprocessing.
_DIRTY_ORACLE = """
SELECT * FROM (VALUES
    (1, 'alpha', 10, CAST(NULL AS VARCHAR)),
    (2, 'beta', CAST(NULL AS INTEGER), '2,beta,notanum'),
    (3, 'gamma', 30, '3,gamma,30,EXTRA'),
    (4, 'delta', 40, CAST(NULL AS VARCHAR))
) AS t(id, name, qty, corrupt_line)
"""


@query("source_corrupt_records", oracle=_DIRTY_ORACLE, tags=("sources",))
def source_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input tolerance — non-negotiable for a 100 TB crawl
    ingest: the CSV scan runs PERMISSIVE with a corrupt-record column,
    so a bad row (type mismatch, wrong arity) never kills the job —
    parseable fields survive, the raw line lands in the quarantine
    column for a reprocess pass, and good rows flow through untouched.
    DROPMALFORMED/FAILFAST remain one option away when the contract is
    stricter."""
    return (
        spark.read.schema("id INT, name STRING, qty INT, corrupt_line STRING")
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "corrupt_line")
        .csv(str(FIXTURES / "dirty.csv"))
    )


_PROPS_ORACLE = """
SELECT event_id, user_id,
       CAST(JSON_EXTRACT(props, '$.k') AS BIGINT) AS prop_k,
       CAST(JSON_EXTRACT(props, '$.k') AS BIGINT) % 10 AS k_mod
FROM events
"""


@query("source_json_column_extract", oracle=_PROPS_ORACLE, tags=("source", "json"))
def source_json_column_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column extraction: parse the events table's JSON
    ``props`` string with a declared schema (from_json, JVM-side Jackson
    — never a Python UDF) and project a typed field plus derived
    arithmetic. At scale the parse is a narrow per-row kernel inside
    whole-stage codegen; the declared schema means malformed documents
    yield NULLs instead of job failures (PERMISSIVE semantics, the same
    contract as the corrupt-record CSV scan)."""
    from c3dc_etl_spark.suite.registry import load as _load

    ev = _load(spark, sf_dir, "events").select("event_id", "user_id", "props")
    parsed = ev.select(
        "event_id",
        "user_id",
        F.from_json(F.col("props"), "k bigint").alias("p"),
    )
    return parsed.select(
        "event_id",
        "user_id",
        F.col("p.k").alias("prop_k"),
        (F.col("p.k") % 10).alias("k_mod"),
    )


_FW_ORACLE = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""

_FW_FIELDS = [
    ("n_nationkey", 1, 4, "int"),
    ("n_name", 5, 16, "string"),
    ("n_regionkey", 21, 4, "int"),
]


@query("source_fixed_width_scan", oracle=_FW_ORACLE, tags=("sources",))
def source_fixed_width_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width text roundtrip — the delimiterless legacy-export
    format (mainframe/COBOL extracts, printf reports): nation is
    rendered as space-padded (offset, width) lines and scanned back
    through the fixed-width source (sources/fixed_width.py — splittable
    line reads, pure substring+trim+cast slicing, zero UDFs; oversized
    values rejected loudly at write time because silent truncation
    corrupts adjacent fields). The oracle reads the original table, so
    parity covers the renderer and the parser end to end."""
    import tempfile

    from c3dc_etl_spark.sources.fixed_width import (
        read_fixed_width,
        write_fixed_width,
    )

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    out = tempfile.mkdtemp(prefix="fixed_width_")
    write_fixed_width(nat, out, _FW_FIELDS)
    return read_fixed_width(spark, out, _FW_FIELDS)
