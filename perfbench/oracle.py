"""Expected results, computed with DuckDB over the generated source files.

The oracle restates each workload's outcome from the raw inputs without
touching the engine: node counts, link-array sizes, merged distinct
fingerprints, the seeded violation count and the most-negative
``DM_BRTHDAT`` rule. Values are plain Python data so they compare with
``==`` against what the benchmark reads back from the engine's outputs.
For the operator suite the oracle is each query's registered DuckDB SQL,
reduced to its row count, sorted column names and value hash.
"""

from __future__ import annotations

import hashlib

import duckdb

from perfbench.suite import SUITE_QUERIES, SUITE_TABLES

# Upper bound of every ``age_at_*`` integer property in the schema.
AGE_MAX = 54750


def _csv(path: str) -> str:
    return f"read_csv('{path}', header = true, all_varchar = true)"


def _histogram(con, sql: str) -> dict[int, int]:
    return {int(k): int(n) for k, n in con.execute(sql).fetchall()}


def study_document(d: str) -> dict:
    con = duckdb.connect()
    try:
        dx_ok = f"SELECT * FROM {_csv(d + '/diagnosis.csv')} WHERE TRIM(COALESCE(dx_code, '')) <> ''"
        counts = {
            "participants": con.execute(f"SELECT COUNT(*) FROM {_csv(d + '/participant.csv')}").fetchone()[0],
            "diagnoses": con.execute(f"SELECT COUNT(*) FROM ({dx_ok})").fetchone()[0],
            "survivals": con.execute(f"SELECT COUNT(*) FROM {_csv(d + '/survival.csv')}").fetchone()[0],
        }
        links = {}
        for child, rows in (("diagnosis", dx_ok), ("survival", f"SELECT * FROM {_csv(d + '/survival.csv')}")):
            links[child] = _histogram(
                con,
                f"""
                WITH c AS (SELECT pid, COUNT(*) AS n FROM ({rows}) GROUP BY pid)
                SELECT COALESCE(c.n, 0) AS k, COUNT(*)
                FROM {_csv(d + '/participant.csv')} p LEFT JOIN c USING (pid)
                GROUP BY k
                """,
            )
        counts["treatments"] = con.execute(
            f"SELECT COUNT(*) FROM {_csv(d + '/participant.csv')} WHERE chemo = 'yes'"
        ).fetchone()[0]
        ages = [
            r[0]
            for r in con.execute(
                f"SELECT ABS(CAST(tx_age AS BIGINT)) + 30 FROM {_csv(d + '/participant.csv')}"
                " WHERE chemo = 'yes' ORDER BY 1"
            ).fetchall()
        ]
        return {"counts": counts, "links": links, "treatment_ages": ages}
    finally:
        con.close()


def merge_publish(d: str) -> dict:
    con = duckdb.connect()
    try:
        con.execute(
            f"""
            CREATE TABLE lab AS
            SELECT pid, test, CAST(result AS DOUBLE) AS result, units, CAST(age AS BIGINT) AS age
            FROM (SELECT * FROM {_csv(d + '/t1/laboratory_test.csv')}
                  UNION ALL SELECT * FROM {_csv(d + '/t2/laboratory_test.csv')})
            """
        )
        one = lambda sql: int(con.execute(sql).fetchone()[0])  # noqa: E731
        return {
            # first-wins keeps one record per (content, participant)
            "laboratory_tests": one("SELECT COUNT(*) FROM (SELECT DISTINCT * FROM lab)"),
            "participants": one(
                f"SELECT COUNT(DISTINCT pid) FROM (SELECT pid FROM {_csv(d + '/t1/participant.csv')}"
                f" UNION ALL SELECT pid FROM {_csv(d + '/t2/participant.csv')})"
            ),
            # the merge fingerprint covers content only, never ids or links
            "lab_fingerprints": one(
                "SELECT COUNT(*) FROM (SELECT DISTINCT test, result, units, age FROM lab)"
            ),
            "participant_fingerprints": one(
                f"SELECT COUNT(DISTINCT sex) FROM {_csv(d + '/t1/participant.csv')}"
            ),
            "violations": one(
                f"SELECT COUNT(*) FROM (SELECT DISTINCT * FROM lab) WHERE ABS(age) > {AGE_MAX}"
            ),
        }
    finally:
        con.close()


def mci_subject_json(d: str) -> dict:
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"""
            WITH docs AS (
                SELECT participant.usi AS usi, UNNEST(forms) AS form
                FROM read_json_auto('{d}/*.json')
            ),
            kv AS (SELECT usi, UNNEST(form.data) AS fld FROM docs)
            SELECT usi,
                   MIN(CASE WHEN fld.form_field_id = 'DM_BRTHDAT'
                            THEN CAST(fld.value AS BIGINT) END) AS birth,
                   MAX(CASE WHEN fld.form_field_id = 'TX_CHEMO' THEN fld.value END) AS chemo,
                   MAX(CASE WHEN fld.form_field_id = 'TX_AGE'
                            THEN CAST(fld.value AS BIGINT) END) AS tx_age
            FROM kv GROUP BY usi
            """
        ).fetchall()
        treated = [abs(birth) + tx_age for _usi, birth, chemo, tx_age in rows if chemo == "yes"]
        return {
            "counts": {"participants": len(rows), "survivals": len(rows), "treatments": len(treated)},
            "links": {"survival": {1: len(rows)}},
            # treatment age = |most-negative DM_BRTHDAT| + TX_AGE
            "treatment_ages": sorted(treated),
        }
    finally:
        con.close()


def value_hash(rows: list[tuple], columns: list[str]) -> str:
    """Order-insensitive hash of a result, with the semantics of
    ``scripts/check_oracle.py``: columns sorted by name, values
    normalized to strings, rows sorted, md5."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm(v):
        if v is None:
            return "<null>"
        if isinstance(v, bool):
            return str(int(v))
        if isinstance(v, float):
            return "nan" if v != v else repr(v)
        return str(v)

    h = hashlib.md5()
    for line in sorted("|".join(norm(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def result_key(rows: list[tuple], columns: list[str]) -> tuple[int, list[str], str]:
    """What a suite query's result is compared on."""
    return len(rows), sorted(columns), value_hash(rows, columns)


def operator_suite(d: str) -> dict:
    from c3dc_etl_spark.suite import REGISTRY

    con = duckdb.connect()
    try:
        for t in SUITE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
        out = {}
        for q in SUITE_QUERIES:
            res = con.execute(REGISTRY[q].oracle)
            out[q] = result_key(res.fetchall(), [c[0] for c in res.description])
        return out
    finally:
        con.close()


EXPECTATIONS = {
    "study_document": study_document,
    "merge_publish": merge_publish,
    "mci_subject_json": mci_subject_json,
    "operator_suite": operator_suite,
}
