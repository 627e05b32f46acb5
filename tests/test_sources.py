"""Sources-layer unit tests (S1-S13 logic)."""

from __future__ import annotations

import pathlib
import random
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from c3dc_etl_spark.mapping.model import load_mappings
from c3dc_etl_spark.sources import (
    duplicate_keys,
    load_transformations,
    normalize_path,
    read_delimited,
    read_lookup_map,
    read_manifest,
    read_subject_documents,
    read_subject_documents_collated,
    route_tabs,
)
from c3dc_etl_spark.sources.workbook import truncate_sheet_name

FIXTURES = pathlib.Path(__file__).resolve().parent / "fixtures"


_CLINICAL_ROWS = [
    ("101", "alpha", "1.5", "junk1"),
    ("102", "beta", "2.0", "junk2"),
    ("", "missing", "9.9", "junk3"),
    ("104", "gamma", "", "junk4"),
    ("105", "delta", "4.25", "junk5"),
]


def test_delimited_scan_prunes_filters_numbers(spark, tmp_path):
    """The fixture, plus its rows under two headers the S3 prune must
    read as Spark parses them: a leading blank line (and a
    whitespace-only cell), and a quoted cell holding the separator
    followed by a blank cell."""
    leading_blank = tmp_path / "leading_blank.csv"
    lines = ["", "id,name,dose, "] + [",".join(r) for r in _CLINICAL_ROWS]
    leading_blank.write_text("\n".join(lines) + "\n")
    quoted = tmp_path / "quoted.csv"
    lines = ['"last, first",,id,dose'] + [
        f'"{name}, x",{junk},{id_},{dose}' for id_, name, dose, junk in _CLINICAL_ROWS
    ]
    quoted.write_text("\n".join(lines) + "\n")
    cases = [
        (FIXTURES / "clinical.tsv", "\t", {"id", "name", "dose"}),
        (leading_blank, ",", {"id", "name", "dose"}),
        (quoted, ",", {"last, first", "id", "dose"}),
    ]
    for path, sep, kept in cases:
        df = read_delimited(spark, str(path), sep=sep, id_column="id", row_numbers=True)
        rows = {r["id"]: r for r in df.collect()}
        assert set(df.columns) == kept | {"source_file_row_num"}, path  # S3 prune
        assert set(rows) == {"101", "102", "104", "105"}  # P1 blank-id dropped
        # P3: contiguous scan-order numbering starting at 2, unaffected by
        # the dropped row
        assert [rows[k]["source_file_row_num"] for k in ("101", "102", "104", "105")] == [
            2, 3, 4, 5
        ]
        assert rows["104"]["dose"] is None  # untyped cells, empty -> null


@contextmanager
def _file_conf(spark, **conf):
    """Set ``spark.sql.files.<key>`` values; restore (or unset) on exit."""
    keys = {f"spark.sql.files.{k}": v for k, v in conf.items()}
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _write_sources(root, sizes, seed=7):
    """One CSV per (name, rows) with ~10% blank ids; returns the
    reference numbering: files in name order, lines in file order,
    blank ids skipped."""
    rnd = random.Random(seed)
    ids = []
    for name, n in sorted(sizes.items()):
        lines = ["pid,val"]
        for i in range(n):
            pid = rnd.choice(["", "  "]) if rnd.random() < 0.1 else f"{name}-{i}"
            lines.append(f"{pid},{'v' * rnd.randint(1, 24)}")
            if pid.strip():
                ids.append(pid)
        (root / name).write_text("\n".join(lines) + "\n")
    return ids


def test_delimited_row_numbers_match_file_order_across_splits(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    ids = _write_sources(src, {"a.csv": 3000, "b.csv": 2500, "c.csv": 3000,
                               "d.csv": 2, "e.csv": 3})
    with _file_conf(spark, maxPartitionBytes="16k", openCostInBytes="1k"):
        df = read_delimited(spark, str(src), id_column="pid", row_numbers=True,
                            rownum_start=1)
        files_per_split = (
            df.select(F.spark_partition_id().alias("p"), F.input_file_name().alias("f"))
            .distinct().groupBy("p").count().collect()
        )
        got = {r["pid"]: r["source_file_row_num"] for r in df.collect()}
    assert len(files_per_split) >= 4
    assert max(r["count"] for r in files_per_split) >= 2  # small files packed
    assert got == {pid: n for n, pid in enumerate(ids, start=1)}


def test_delimited_row_numbers_header_only_file(spark, tmp_path):
    (tmp_path / "h.csv").write_text("pid,val\n")
    df = read_delimited(spark, str(tmp_path / "h.csv"), id_column="pid", row_numbers=True)
    assert df.columns == ["pid", "val", "source_file_row_num"]
    assert df.collect() == []


def test_delimited_row_numbers_fail_on_changed_split_layout(spark, tmp_path):
    """Numbers are fixed at read time; an action that sees another split
    layout must fail, never renumber."""
    _write_sources(tmp_path, {"a.csv": 3000, "b.csv": 3000})
    with _file_conf(spark, maxPartitionBytes="32k"):
        df = read_delimited(spark, str(tmp_path), id_column="pid", row_numbers=True)
    with _file_conf(spark, maxPartitionBytes="20k"):
        with pytest.raises(Exception, match="split layout of .* changed since the read"):
            df.collect()


def test_delimited_row_numbers_fail_on_file_rewritten_in_place(spark, tmp_path):
    """Same path, same byte size, more rows: the split key still matches,
    so the per-split id range is what must catch it."""
    f = tmp_path / "a.csv"
    f.write_text("pid,val\n" + "".join(f"{i:02d},vvvvvvv\n" for i in range(10)))
    size = f.stat().st_size
    df = read_delimited(spark, str(f), id_column="pid", row_numbers=True)
    more = "pid,val\n" + "".join(f"{i:02d},v\n" for i in range(15))
    f.write_text(more + "99," + "v" * (size - len(more) - 4) + "\n")
    assert f.stat().st_size == size
    with pytest.raises(Exception, match="split layout of .* changed since the read"):
        df.collect()


def test_jsondir_duplicate_resolution(spark):
    df = read_subject_documents(
        spark, str(FIXTURES / "subjects"),
        fields=("DM_SEX", "DM_BRTHDAT", "FU_STATUS"),
        most_negative_fields=("DM_BRTHDAT",),
    )
    rows = {r["usi"]: r for r in df.collect()}
    assert rows["P001"]["DM_BRTHDAT"] == "-350"  # most-negative wins (S5)
    assert rows["P002"]["DM_SEX"] == "M"         # first instance wins
    assert rows["P003"]["DM_SEX"] is None        # no forms -> row kept, nulls


def test_jsondir_collated_duplicate_data_keys(spark):
    # Q002's DEMOGRAPHICS form has TWO `data` keys in one JSON object; a
    # plain dict parse keeps only the last (DM_SEX would be 'F'), the
    # collating reader sees both in order.
    df = read_subject_documents_collated(
        spark, str(FIXTURES / "subjects_dup"),
        fields=("DM_SEX", "DM_BRTHDAT", "FU_STATUS", "FU_AGE"),
        most_negative_fields=("DM_BRTHDAT",),
    )
    rows = {r["usi"]: r for r in df.collect()}
    assert rows["Q001"]["DM_SEX"] == "F" and rows["Q001"]["DM_BRTHDAT"] == "-150"
    assert rows["Q002"]["DM_SEX"] == "M"        # first-wins across dup data keys
    assert rows["Q002"]["DM_BRTHDAT"] == "-400" # most-negative across dup data keys
    assert rows["Q003"]["DM_SEX"] is None       # no forms -> row kept, nulls


def test_manifest_uniqueness_enforced(spark):
    df = read_manifest(spark, str(FIXTURES / "manifest.csv"), key_col="file_name")
    assert df.count() == 4
    assert duplicate_keys(df, "file_name").count() == 0


def test_lookup_map_roundtrip(spark):
    m = read_lookup_map(
        spark, str(FIXTURES / "manifest.csv"), key_col="file_name", value_col="md5"
    )
    assert m["P001.json"].startswith("0123")
    assert len(m) == 4


def test_route_tabs_from_mapping_prefixes():
    maps = load_mappings(
        [
            {"output_field": "participant.participant_id", "source_field": "Participants.pid"},
            {"output_field": "participant.sex_at_birth", "source_field": "Participants.sex"},
            {"output_field": "diagnosis.diagnosis", "source_field": "Diagnoses.dx"},
            {"output_field": "diagnosis.diagnosis_id", "source_field": "rowlocal"},
        ]
    )
    assert route_tabs(maps) == {"participant": "Participants", "diagnosis": "Diagnoses"}


def test_route_tabs_conflict_raises():
    maps = load_mappings(
        [
            {"output_field": "participant.participant_id", "source_field": "TabA.pid"},
            {"output_field": "participant.sex_at_birth", "source_field": "TabB.sex"},
        ]
    )
    with pytest.raises(ValueError, match="two worksheets"):
        route_tabs(maps)


def test_load_transformations_merge_and_active():
    local = [
        {"name": "t1", "source_file_path": "a.xlsx", "uuid_seed": "1"},
        {"name": "t2", "source_file_path": "b.xlsx", "active": False},
    ]
    remote = [
        {"name": "t1", "mappings": [{"output_field": "participant.participant_id"}]},
        {"name": "t3", "source_file_path": "c.xlsx"},
    ]
    merged = load_transformations(local, remote)
    by_name = {t["name"]: t for t in merged}
    assert set(by_name) == {"t1", "t3"}          # t2 inactive dropped
    assert by_name["t1"]["source_file_path"] == "a.xlsx"  # local kept
    assert "mappings" in by_name["t1"]           # remote merged in


def test_normalize_path_schemes():
    assert normalize_path("s3://bucket/k.parquet") == "s3a://bucket/k.parquet"
    assert normalize_path("/local/p.csv") == "/local/p.csv"
    assert normalize_path("file:///x.csv") == "file:///x.csv"
    with pytest.raises(ValueError, match="staged"):
        normalize_path("https://example.org/data.csv")


def test_truncate_sheet_name():
    assert truncate_sheet_name("x" * 40) == "x" * 31


# ---------------------------------------------------------------------------
# xlsx_lite codec (S1/K5)
# ---------------------------------------------------------------------------

def test_xlsx_lite_roundtrip(tmp_path):
    from c3dc_etl_spark.sources import xlsx_lite

    path = str(tmp_path / "wb.xlsx")
    xlsx_lite.write_workbook(
        path,
        {
            "S1": (["a", "b"], [["x<&>", 1], [None, 2.5], ["é", True]]),
            "S2": (["only"], []),
        },
    )
    assert xlsx_lite.sheet_names(path) == ["S1", "S2"]
    rows = xlsx_lite.read_rows(path, "S1")
    assert rows == [
        ["a", "b"],
        ["x<&>", "1"],
        [None, "2.5"],
        ["é", "TRUE"],
    ]
    assert xlsx_lite.read_rows(path, "S2") == [["only"]]


def test_xlsx_lite_shared_strings_and_sparse(tmp_path):
    """Reader handles sharedStrings-table workbooks (what real Excel
    writes — our writer uses inline strings) and sparse cell refs."""
    import zipfile

    from c3dc_etl_spark.sources import xlsx_lite

    path = str(tmp_path / "shared.xlsx")
    m = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    r = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    p = "http://schemas.openxmlformats.org/package/2006/relationships"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(
            "[Content_Types].xml",
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
            'content-types"/>',
        )
        zf.writestr(
            "xl/workbook.xml",
            f'<workbook xmlns="{m}" xmlns:r="{r}"><sheets>'
            '<sheet name="Data" sheetId="1" r:id="rId9"/></sheets></workbook>',
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            f'<Relationships xmlns="{p}"><Relationship Id="rId9" Type="t" '
            'Target="worksheets/sheet1.xml"/></Relationships>',
        )
        zf.writestr(
            "xl/sharedStrings.xml",
            f'<sst xmlns="{m}"><si><t>hd</t></si>'
            "<si><r><t>ri</t></r><r><t>ch</t></r></si></sst>",
        )
        # row 2 skipped entirely; C3 present with A3/B3 omitted
        zf.writestr(
            "xl/worksheets/sheet1.xml",
            f'<worksheet xmlns="{m}"><sheetData>'
            '<row r="1"><c r="A1" t="s"><v>0</v></c>'
            '<c r="C1" t="s"><v>1</v></c></row>'
            '<row r="3"><c r="C3"><v>7</v></c></row>'
            "</sheetData></worksheet>",
        )
    rows = xlsx_lite.read_rows(path, "Data")
    assert rows == [
        ["hd", None, "rich"],
        [None, None, None],
        [None, None, "7"],
    ]


def test_read_worksheet_lite_prunes_headerless(spark):
    from c3dc_etl_spark.sources.workbook import read_worksheet

    fixtures = pathlib.Path(__file__).resolve().parent / "fixtures"
    df = read_worksheet(spark, str(fixtures / "study_workbook.xlsx"), "Demographics")
    assert df.columns == ["upi", "DM_SEX", "DM_BRTHDAT", "Notes"]
    rows = {r["upi"]: r for r in df.collect()}
    assert rows["Q001"]["DM_BRTHDAT"] == "-150"
    assert rows["Q004"]["DM_BRTHDAT"] == "12.5"
    assert rows["Q003"]["Notes"] is None


def test_pivoter_write_workbook_lite(spark, tmp_path):
    from c3dc_etl_spark.sources import xlsx_lite
    from c3dc_etl_spark.tools.pivoter import write_workbook

    path = str(tmp_path / "out.xlsx")
    frames = {
        "a_very_long_form_name_that_exceeds_31_chars": spark.createDataFrame(
            [("Q1", "v")], ["upi", "val"]
        )
    }
    write_workbook(frames, path)
    names = xlsx_lite.sheet_names(path)
    assert names == ["a_very_long_form_name_that_exce"]
    assert xlsx_lite.read_rows(path, names[0]) == [["upi", "val"], ["Q1", "v"]]


def test_stage_to_local_size_guard(tmp_path):
    from c3dc_etl_spark.sources.storage import stage_to_local

    src = tmp_path / "artifact.json"
    src.write_bytes(b"x" * 1000)
    dest = tmp_path / "staged.json"
    n = stage_to_local(src.as_uri(), str(dest))
    assert n == 1000 and dest.read_bytes() == b"x" * 1000
    # file:// declares Content-Length, so the up-front check fires
    with pytest.raises(ValueError, match="limit"):
        stage_to_local(src.as_uri(), str(tmp_path / "d2"), max_bytes=100)


def test_xlsx_lite_roundtrip_property(tmp_path):
    """Property: any grid of str/int/float/bool/None cells survives a
    write+read roundtrip with values stringified by the documented
    rules (numbers via repr, booleans TRUE/FALSE, None omitted)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from c3dc_etl_spark.sources import xlsx_lite

    cell = st.one_of(
        st.none(),
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_categories=("Cs", "Cc", "Cn")
            ),
            max_size=20,
        ),
        st.integers(min_value=-10**12, max_value=10**12),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.booleans(),
    )

    def expected(v):
        if v is None:
            return None
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, (int, float)):
            return repr(v)
        return v

    @settings(max_examples=25, deadline=None)
    @given(
        rows=st.lists(st.lists(cell, min_size=1, max_size=6), max_size=5),
        ncols=st.integers(min_value=1, max_value=6),
    )
    def check(rows, ncols):
        headers = [f"c{i}" for i in range(ncols)]
        norm_rows = [(r + [None] * ncols)[:ncols] for r in rows]
        path = str(tmp_path / "prop.xlsx")
        xlsx_lite.write_workbook(path, {"S": (headers, norm_rows)})
        grid = xlsx_lite.read_rows(path, "S")
        assert grid[0] == headers
        body = grid[1:]
        # rows that are entirely None write no cells; trailing all-None
        # columns narrow the grid — compare against the padded expectation
        width = len(grid[0]) if grid else 0
        for got, src in zip(body, norm_rows):
            want = [expected(v) for v in src][:width]
            want += [None] * (width - len(want))
            got = got + [None] * (len(want) - len(got))
            assert got == want

    check()


def test_read_worksheet_dedupes_colliding_headers(spark, tmp_path):
    from c3dc_etl_spark.sources import xlsx_lite
    from c3dc_etl_spark.sources.workbook import read_worksheet

    path = str(tmp_path / "dups.xlsx")
    # 'x' duplicated AND a literal 'x.1' later: the generated suffix
    # must skip the literal, yielding x, x.2, x.1 (all unique)
    xlsx_lite.write_workbook(
        path, {"s": (["x", "x", "x.1"], [["a", "b", "c"]])}
    )
    df = read_worksheet(spark, path, "s")
    assert df.columns == ["x", "x.2", "x.1"]
    row = df.collect()[0]
    assert (row["x"], row["x.2"], row["x.1"]) == ("a", "b", "c")


def test_read_worksheet_headerless_kept_gets_positional_name(spark, tmp_path):
    from c3dc_etl_spark.sources import xlsx_lite
    from c3dc_etl_spark.sources.workbook import read_worksheet

    path = str(tmp_path / "noheader.xlsx")
    xlsx_lite.write_workbook(
        path, {"s": (["a", "", "c"], [["1", "2", "3"]])}
    )
    df = read_worksheet(spark, path, "s", prune_headerless=False)
    assert df.columns == ["a", "_c1", "c"]


def test_partitioned_scan_prunes_at_planning_time(spark):
    """The partitioned-layout query's scan must carry the event_type
    predicate as a PartitionFilter (directory pruning, zero data read
    from other partitions) and prune the partition column out of the
    data ReadSchema."""
    from c3dc_etl_spark.suite import REGISTRY

    df = REGISTRY["sink_partitioned_pruning"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    i = plan.find("PartitionFilters: [")
    assert i != -1, "scan lost its partition filters"
    window = plan[i : i + 160]
    assert "event_type" in window and "IN (signup,purchase)" in window
    assert "ReadSchema: struct<event_id:bigint,user_id:bigint>" in plan


def test_fixed_width_rejects_oversized_values(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from c3dc_etl_spark.sources.fixed_width import (
        read_fixed_width,
        write_fixed_width,
    )

    fields = [("k", 1, 4, "int"), ("name", 5, 6, "string")]
    ok = spark.createDataFrame([(1, "abc"), (22, None)], "k int, name string")
    out = str(tmp_path / "fw")
    write_fixed_width(ok, out, fields)
    got = sorted(
        tuple(r) for r in read_fixed_width(spark, out, fields).collect()
    )
    assert got == [(1, "abc"), (22, None)]
    too_wide = spark.createDataFrame(
        [(1, "seven77")], "k int, name string"
    )
    with pytest.raises(Exception, match="fixed-width overflow"):
        write_fixed_width(too_wide, str(tmp_path / "fw2"), fields)
