"""Seeded input generators, one per workload.

Each generator writes one workload's source files under ``out_dir`` and
returns the run parameters derived from the same seed. The same seed
always yields byte-identical files. Values come from the standard
library's ``random``, so the inputs do not depend on which numeric
libraries are installed; pyarrow only encodes the suite's parquet tables.
"""

from __future__ import annotations

import csv
import json
import os
import random

# Input sizes per workload. Each workload's ``why`` in BENCHMARK.json
# states them, and the benchmark's tests hold the two in step. They are
# smaller than a real study: see perfbench/README.md, "Input sizes".
STUDY_PARTICIPANTS = 1500
STUDY_DIAGNOSES = 6000
LAB_SUBJECTS = 1000
LAB_EVENTS = 8000
LAB_VIOLATION_RATE = 0.01
MCI_SUBJECTS = 120

# operator_suite writes its tables at the row counts of the repo's sf0.01
# test tables, the scale of the repo's oracle gate.
SUITE_CUSTOMERS = 1500
SUITE_SUPPLIERS = 100
SUITE_ORDERS = 15000
SUITE_LINEITEMS = 60000
SUITE_EVENTS = 10000
MKT_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

DX_CODES = ("8000/0", "8000/3", "9500/3", "9861/3", "9811/3")
LAB_TESTS = (
    ("hemoglobin", "g/dL"),
    ("platelets", "10^9/L"),
    ("wbc", "10^9/L"),
    ("creatinine", "mg/dL"),
    ("ldh", "U/L"),
    ("ferritin", "ng/mL"),
)


def _rng(seed: int, tag: str) -> random.Random:
    return random.Random(f"{tag}:{seed}")


def _write_csv(path: str, header: list[str], rows: list[tuple]) -> None:
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def _ids(rng: random.Random, prefix: str, n: int) -> list[str]:
    """``n`` distinct ids sampled from a pool ten times larger, in
    sampled order, so the seed picks which subjects a run sees."""
    return [f"{prefix}{k:07d}" for k in rng.sample(range(10 * n), n)]


def study_document(seed: int, out_dir: str) -> dict:
    """CCDI shape: one CSV tab per node (participant, diagnosis,
    survival). About 2% of diagnosis rows carry a blank code, which the
    required-property filter drops. The participant tab also carries the
    treatment flags that a row-mapped rule sheet turns into treatment
    records."""
    rng = _rng(seed, "study_document")
    pids = _ids(rng, "PT", STUDY_PARTICIPANTS)
    participants = [
        (
            pid,
            rng.choice(("1", "2", "9", "")),
            rng.choice(("white", "unknown", "asian;white", "black or african american")),
            rng.choice(("", "", "hispanic or latino")),
            rng.choice(("yes", "no", "")),
            str(-rng.randrange(0, 5000)),
        )
        for pid in pids
    ]
    dxids = _ids(rng, "DX", STUDY_DIAGNOSES)
    diagnoses = [
        (
            dxid,
            rng.choice(pids),
            "" if rng.random() < 0.02 else rng.choice(DX_CODES),
            str(rng.randrange(0, 9000)),
        )
        for dxid in dxids
    ]
    survivals = [
        (pid, rng.choice(("a", "d")), str(rng.randrange(100, 12000)))
        for pid in pids
        if rng.random() < 0.9
    ]
    os.makedirs(out_dir, exist_ok=True)
    _write_csv(f"{out_dir}/participant.csv", ["pid", "sex", "race", "eth", "chemo", "tx_age"], participants)
    _write_csv(f"{out_dir}/diagnosis.csv", ["dxid", "pid", "dx_code", "age_dx"], diagnoses)
    _write_csv(f"{out_dir}/survival.csv", ["pid", "status", "age_fu"], survivals)
    return {"uuid_seed": f"ccdi-{rng.getrandbits(32):08x}"}


def merge_publish(seed: int, out_dir: str) -> dict:
    """TARGET shape: two transformations, each with a participant file
    and a laboratory-test file. Every lab event goes to the first
    transformation, the second, or both (the overlap the merge must
    collapse). About 1% of events carry an age above the schema maximum:
    the seeded violations the distributed validation must count."""
    rng = _rng(seed, "merge_publish")
    pids = _ids(rng, "TG", LAB_SUBJECTS)
    participants = [(pid, rng.choice(("1", "2", "9"))) for pid in pids]
    t1: list[tuple] = []
    t2: list[tuple] = []
    for _ in range(LAB_EVENTS):
        name, units = rng.choice(LAB_TESTS)
        age = (
            rng.randrange(60000, 70000)
            if rng.random() < LAB_VIOLATION_RATE
            else rng.randrange(0, 9000)
        )
        row = (rng.choice(pids), name, f"{rng.randrange(1, 100000) / 100:.2f}", units, str(age))
        side = rng.random()
        if side < 0.75:
            t1.append(row)
        if side >= 0.25:
            t2.append(row)
    lab_header = ["pid", "test", "result", "units", "age"]
    for tag, labs in (("t1", t1), ("t2", t2)):
        d = f"{out_dir}/{tag}"
        os.makedirs(d, exist_ok=True)
        _write_csv(f"{d}/participant.csv", ["pid", "sex"], participants)
        _write_csv(f"{d}/laboratory_test.csv", lab_header, labs)
    tag = f"{rng.getrandbits(32):08x}"
    return {"uuid_seeds": (f"t1-{tag}", f"t2-{tag}")}


def mci_subject_json(seed: int, out_dir: str) -> dict:
    """MCI shape: one JSON document per subject with ``forms[].data[]``
    entries. Most subjects repeat ``DM_BRTHDAT`` in a second
    demographics form; the most negative value must win."""
    rng = _rng(seed, "mci_subject_json")
    usis = _ids(rng, "MCI", MCI_SUBJECTS)
    os.makedirs(out_dir, exist_ok=True)
    for usi in usis:
        birth = [str(-rng.randrange(100, 7000)) for _ in range(rng.choice((1, 2, 2, 3)))]
        forms = [
            {
                "form_id": "DEMOGRAPHICS",
                "data": [
                    {"form_field_id": "DM_SEX", "value": rng.choice(("F", "M", "U"))},
                    {"form_field_id": "DM_BRTHDAT", "value": birth[0]},
                ],
            }
        ]
        forms += [
            {"form_id": "DEMOGRAPHICS", "data": [{"form_field_id": "DM_BRTHDAT", "value": b}]}
            for b in birth[1:]
        ]
        forms.append(
            {
                "form_id": "FOLLOW_UP",
                "data": [
                    {"form_field_id": "FU_STATUS", "value": rng.choice(("Alive", "Dead"))},
                    {"form_field_id": "FU_AGE", "value": str(rng.randrange(7000, 12000))},
                ],
            }
        )
        forms.append(
            {
                "form_id": "TREATMENT",
                "data": [
                    {"form_field_id": "TX_CHEMO", "value": rng.choice(("yes", "yes", "no"))},
                    {"form_field_id": "TX_AGE", "value": str(rng.randrange(0, 3000))},
                ],
            }
        )
        rng.shuffle(forms)
        with open(f"{out_dir}/{usi}.json", "w", encoding="utf-8") as fh:
            json.dump({"participant": {"usi": usi}, "forms": forms}, fh)
    return {"uuid_seed": f"mci-{rng.getrandbits(32):08x}"}


def _parquet(path: str, columns: dict[str, tuple[str, list]]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {"i32": pa.int32(), "i64": pa.int64(), "f64": pa.float64(), "str": pa.string(),
             "ts": pa.timestamp("us")}
    table = pa.table({name: pa.array(values, type=types[t]) for name, (t, values) in columns.items()})
    pq.write_table(table, path)


def operator_suite(seed: int, out_dir: str) -> dict:
    """``suite.SUITE_TABLES``, with the column names, types and value
    domains of the repo's test tables of the same names."""
    import datetime as dt

    rng = _rng(seed, "operator_suite")
    n_cust, n_supp, n_orders, n_lines, n_events = (
        SUITE_CUSTOMERS, SUITE_SUPPLIERS, SUITE_ORDERS, SUITE_LINEITEMS, SUITE_EVENTS
    )
    money = lambda lo, hi: round(rng.uniform(lo, hi), 2)  # noqa: E731
    day0 = dt.datetime(1995, 1, 1)
    os.makedirs(out_dir, exist_ok=True)
    _parquet(f"{out_dir}/customer.parquet", {
        "c_custkey": ("i64", list(range(n_cust))),
        "c_name": ("str", [f"Customer#{k:09d}" for k in range(n_cust)]),
        "c_nationkey": ("i32", [rng.randrange(25) for _ in range(n_cust)]),
        "c_acctbal": ("f64", [money(-999.99, 9999.99) for _ in range(n_cust)]),
        "c_mktsegment": ("str", [rng.choice(MKT_SEGMENTS) for _ in range(n_cust)]),
    })
    _parquet(f"{out_dir}/orders.parquet", {
        "o_orderkey": ("i64", list(range(n_orders))),
        "o_custkey": ("i64", [rng.randrange(n_cust) for _ in range(n_orders)]),
        "o_orderstatus": ("str", [rng.choice("FOP") for _ in range(n_orders)]),
        "o_totalprice": ("f64", [money(1000, 500000) for _ in range(n_orders)]),
        "o_orderdate": ("ts", [day0 + dt.timedelta(days=rng.randrange(2404)) for _ in range(n_orders)]),
        "o_orderpriority": ("str", [rng.choice(PRIORITIES) for _ in range(n_orders)]),
    })
    _parquet(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": ("i64", [rng.randrange(n_orders) for _ in range(n_lines)]),
        "l_partkey": ("i64", [rng.randrange(2000) for _ in range(n_lines)]),
        "l_suppkey": ("i64", [rng.randrange(n_supp) for _ in range(n_lines)]),
        "l_linenumber": ("i32", [rng.randrange(1, 8) for _ in range(n_lines)]),
        "l_quantity": ("f64", [float(rng.randrange(1, 51)) for _ in range(n_lines)]),
        "l_extendedprice": ("f64", [money(900, 105000) for _ in range(n_lines)]),
        "l_discount": ("f64", [rng.randrange(11) / 100 for _ in range(n_lines)]),
        "l_tax": ("f64", [rng.randrange(9) / 100 for _ in range(n_lines)]),
        "l_returnflag": ("str", [rng.choice("ANR") for _ in range(n_lines)]),
        "l_linestatus": ("str", [rng.choice("OF") for _ in range(n_lines)]),
        "l_shipdate": ("ts", [day0 + dt.timedelta(days=rng.randrange(1, 2500)) for _ in range(n_lines)]),
    })
    # events arrive in time order over 30 days, as in the test tables
    t0 = dt.datetime(2024, 1, 1)
    offsets = sorted(rng.randrange(30 * 86400 * 10**6) for _ in range(n_events))
    _parquet(f"{out_dir}/events.parquet", {
        "event_id": ("i64", list(range(n_events))),
        "ts": ("ts", [t0 + dt.timedelta(microseconds=us) for us in offsets]),
        "user_id": ("i64", [rng.randrange(150) for _ in range(n_events)]),
        "event_type": ("str", [rng.choice(EVENT_TYPES) for _ in range(n_events)]),
        "value": ("f64", [money(0.01, 490.02) for _ in range(n_events)]),
        "props": ("str", [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)]),
    })
    return {}


def size_phrases(workload: str) -> list[str]:
    """The input sizes of a workload, as its ``why`` in BENCHMARK.json
    states them."""
    return {
        "study_document": [f"{STUDY_PARTICIPANTS:,} participants", f"{STUDY_DIAGNOSES:,} diagnoses"],
        "merge_publish": [f"{LAB_SUBJECTS:,} participants", f"{LAB_EVENTS:,} lab events",
                          f"{LAB_VIOLATION_RATE:.0%} invalid"],
        "mci_subject_json": [f"{MCI_SUBJECTS:,} subject files"],
        "operator_suite": [f"{SUITE_LINEITEMS:,} lineitem rows", f"{SUITE_EVENTS:,} events"],
    }[workload]


GENERATORS = {
    "study_document": study_document,
    "merge_publish": merge_publish,
    "mci_subject_json": mci_subject_json,
    "operator_suite": operator_suite,
}


def input_bytes(path: str) -> int:
    """Total size of the regular files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
