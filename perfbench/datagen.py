"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of ``seed`` (numpy ``PCG64``; no
clock, no uuid, no hash randomisation), so the same seed writes
byte-identical files and a different seed changes every table's
contents while keeping its shape: row counts, key domains, category
mixes and gate proportions are fixed, so per-run cost does not depend
on which seed a run uses.

The query tables mirror the columns and value domains of the
TPC-H-style fixture set the query surface is written against
(TESTDATA.md): ten tables, sized by ``sf`` the same way.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from capgemini_himss24_fhirbulkdata_demo_spark.transforms.benchdata import make_eob

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "red", "blue", "green", "large", "shiny", "old", "steel"]
_PART_NOUN = ["ring", "widget", "anvil", "bolt", "gear", "spring", "valve", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400 * 1_000_000


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform money values with exactly two decimals."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def make_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Write the ten query tables as ``<name>.parquet`` under ``out_dir``.

    Returns ``{table: {"rows": n, "bytes": b}}``.
    """
    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 50)
    n_vec = max(int(20_000 * sf), 50)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    order_days = rng.integers(0, 2405, n_ord)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _EPOCH_1995 + order_days * np.timedelta64(1, "D"),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    ship_days = rng.integers(1, 2499, n_line)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _EPOCH_1995 + ship_days * np.timedelta64(1, "D"),
        }
    )
    tables["events"] = _events_table(rng, n_ev, n_users)

    # documents: uniform draws over a 31-word vocabulary; 5% are a
    # copy of an earlier document plus a trailing "dup" token (the
    # near-duplicate structure the dedup family clusters on).
    lens = rng.integers(10, 101, n_docs)
    words = np.array(_WORDS)
    texts: list[str] = []
    for i, n in enumerate(lens):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), n)]))
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        }
    )
    return {
        name: {"rows": t.num_rows, "bytes": _write(t, os.path.join(out_dir, f"{name}.parquet"))}
        for name, t in tables.items()
    }


def _events_table(rng, n: int, n_users: int, tz: str | None = None) -> pa.Table:
    """``events`` rows over 30 days, ``ts`` increasing with ``event_id``."""
    offs = np.sort(rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(_EPOCH_2024 + offs.astype("timedelta64[us]"), pa.timestamp("us", tz)),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(30.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def land_events(out_dir: str, seed: int, n_events: int, n_files: int) -> dict:
    """Land an ``events`` stream as ``n_files`` parquet files in time order.

    Files hold consecutive ``ts`` ranges, so a 2-hour watermark never
    drops a row and a drain's final window values equal the batch
    aggregation over the same rows. ``ts`` is a UTC instant (Spark
    TIMESTAMP): event-time watermarks reject TIMESTAMP_NTZ.
    """
    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(out_dir, exist_ok=True)
    table = _events_table(rng, n_events, n_users=1_500, tz="UTC")
    per = -(-n_events // n_files)
    total = 0
    for j in range(n_files):
        part = table.slice(j * per, per)
        total += _write(part, os.path.join(out_dir, f"events-{j:04d}.parquet"))
    return {"events": n_events, "files": n_files, "bytes": total}


def make_export(seed: int, n_eob: int, n_eob_files: int, n_patient_files: int,
                patients_per_file: int) -> dict:
    """One BCDA-shaped bulk export held in memory.

    ExplanationOfBenefit documents are ``make_eob`` records (the shape
    the EOB transform gates, enriches and removes on) at a seed-chosen
    index offset, shuffled across files; Patient files carry small
    pass-through resources.

    Returns ``{"files": [(resource_type, ndjson_bytes, docs), ...]}``.
    """
    rng = np.random.Generator(np.random.PCG64(seed))
    base = int(rng.integers(0, 10**8)) * 8  # keeps the i % 8 gate mix
    order = rng.permutation(n_eob)
    files = []
    for chunk in np.array_split(order, n_eob_files):
        docs = [make_eob(base + int(i)) for i in chunk]
        files.append(("ExplanationOfBenefit", _ndjson(docs), docs))
    birth0 = dt.date(1930, 1, 1)
    for j in range(n_patient_files):
        docs = []
        for k in range(patients_per_file):
            pid = f"pat-{base}-{j}-{k}"
            docs.append(
                {
                    "resourceType": "Patient",
                    "id": pid,
                    "meta": {"versionId": "1"},
                    "name": [{"family": f"Fam{int(rng.integers(0, 10**6))}",
                              "given": [f"Giv{int(rng.integers(0, 10**6))}"]}],
                    "gender": ["female", "male"][int(rng.integers(0, 2))],
                    "birthDate": (birth0 + dt.timedelta(days=int(rng.integers(0, 30000)))).isoformat(),
                }
            )
        files.append(("Patient", _ndjson(docs), docs))
    return {"files": files}


def _ndjson(docs: list[dict]) -> bytes:
    return ("\n".join(json.dumps(d) for d in docs) + "\n").encode()
