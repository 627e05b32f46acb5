"""CSV/TSV source scan (S2) with headerless-column prune (S3), empty-row
filter (P1) and audit row numbering (P3).

Reference: _get_petl_table_from_source_file csv/tsv branch
(etl/ccdi/c3dc_etl.py:379-384), blank-header cut (:412), empty-id filter
(:513), addrownumbers (:516).

Cells are read untyped (strings), like the reference's petl tables —
type conversion is the mapping compiler's job (V17). The scan is
Spark-native: splittable, predicate/projection pushdown applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c3dc_etl_spark.functions.columns import blankish
from c3dc_etl_spark.sources.rownum import with_row_numbers
from c3dc_etl_spark.sources.storage import normalize_path


def read_delimited(
    spark: SparkSession,
    path: str,
    *,
    sep: str = ",",
    prune_headerless: bool = True,
    id_column: str | None = None,
    row_numbers: bool = False,
    rownum_start: int = 2,
) -> DataFrame:
    """Load a delimited file as an untyped (all-string) DataFrame.

    - ``prune_headerless``: drop columns whose header cell is blank (S3),
      read off Spark's own parsed header, so quoting and leading blank
      lines parse as the data does: Spark names a blank cell ``_c<i>``
      (i = its position) and keeps a whitespace-only one as is. A header
      that literally reads ``_c<i>`` at position i looks the same and is
      dropped too;
    - ``id_column``: drop rows where this column is blank (P1);
    - ``row_numbers``: add `source_file_row_num` starting at
      ``rownum_start`` (P3; 2 = first data line of a headered file),
      applied AFTER the row filter like the reference. This runs one
      small eager aggregate (one row per split) at read time; the
      returned frame numbers rows with a narrow projection inside the
      scan (``sources/rownum.py``).
    """
    path = normalize_path(path)
    df = spark.read.option("header", True).option("sep", sep).csv(path)
    if prune_headerless:
        df = df.select(*[c for i, c in enumerate(df.columns) if c.strip() and c != f"_c{i}"])
    if id_column:
        df = df.filter(~blankish(F.col(id_column)))
    if row_numbers:
        df = with_row_numbers(df, start=rownum_start)
    return df
