"""Seeded input generators for the benchmark workloads.

Everything here is NumPy/pandas driven by one ``numpy.random.Generator``
built from the run's ``--seed``, so the same seed writes byte-identical
inputs and the program under test only ever sees these files.

- ``taxi_month``: one TLC-shaped raw file per (taxi type, month), with
  every pickup inside that month and every row class the pipeline's
  predicates and the 37 quality checks need exercised both ways
  (FIXTURES.md section 2).
- ``star_schema``: the TPC-H-shaped star schema (plus ``events``) the
  ``harness`` TPC-H/TPC-DS queries read.
- ``corpus``: documents with planted exact and near duplicates, and
  clustered embeddings with held-out query vectors.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

TAXI_KINDS = ("yellow", "green", "fhv", "fhvhv")
_PICKUP = {"yellow": "tpep", "green": "lpep"}


def _month_times(rng: np.random.Generator, year: int, month: int, n: int) -> pd.Series:
    """Pickups spread over every day, hour and weekday of one month."""
    start = pd.Timestamp(year=year, month=month, day=1)
    span_s = int((start + pd.offsets.MonthBegin(1) - start).total_seconds())
    return pd.Series(start + pd.to_timedelta(rng.integers(0, span_s, size=n), unit="s"))


def _yellow_like(rng, kind: str, year: int, month: int, n: int) -> pd.DataFrame:
    p = _PICKUP[kind]
    pickup = _month_times(rng, year, month, n)
    dur_min = rng.uniform(1.5, 60, size=n)
    dur_min[: n // 20] = rng.uniform(181, 400, size=n // 20)  # too long
    dur_min[n // 20 : n // 20 + 5] = 0.0  # zero duration
    dropoff = pickup + pd.to_timedelta((dur_min * 60).round(), unit="s")
    dist = rng.uniform(0.5, 20, size=n)
    dist[: n // 25] = rng.uniform(101, 200, size=n // 25)  # too far
    dist[n // 25 : n // 25 + 5] = 0.0  # zero distance -> NULL speed
    fast = slice(n // 25 + 5, n // 25 + 15)  # speeds in [80, 100] and > 100
    dist[fast] = 30.0
    dropoff.iloc[fast] = pickup.iloc[fast] + pd.to_timedelta(
        np.linspace(15, 21, 10).round(), unit="m"
    )
    fare = (2.5 + dist * 2.4 + rng.normal(0, 2, size=n)).round(2)
    total = (fare * 1.25).round(2)
    n_exp = max(2, n // 30)
    total[:n_exp] = rng.uniform(501, 900, size=n_exp).round(2)  # too expensive
    fare[rng.choice(n, size=max(1, n // 40), replace=False)] = 0.0  # sub-5% bad fares
    pdf = pd.DataFrame(
        {
            "VendorID": rng.choice([1, 2], size=n).astype("int64"),
            f"{p}_pickup_datetime": pickup,
            f"{p}_dropoff_datetime": dropoff,
            "passenger_count": rng.choice([1.0, 1.0, 2.0, 3.0, 6.0], size=n),
            "trip_distance": dist.round(2),
            "PULocationID": rng.integers(1, 266, size=n).astype("int64"),
            "DOLocationID": pd.array(rng.integers(1, 266, size=n), dtype="Int64"),
            "fare_amount": fare,
            "total_amount": total,
        }
    )
    pdf.loc[pdf.index[-5:], "passenger_count"] = np.nan  # NULLs that pass staging
    pdf.loc[pdf.index[-10:-5], "fare_amount"] = np.nan
    if kind == "green":  # NULL key component; yellow keeps its not_null tests green
        pdf.loc[pdf.index[-15:-10], "DOLocationID"] = pd.NA
    # staging rejects: NULL pickup / dropoff, inverted, equal, negative distance / total
    t = pd.Timestamp(year=year, month=month, day=5, hour=10)
    h = pd.Timedelta(hours=1)
    rej = pd.DataFrame(
        {
            "VendorID": np.array([1, 1, 2, 2, 1, 2], dtype="int64"),
            f"{p}_pickup_datetime": [pd.NaT, t + h, t + 2 * h, t + 3 * h, t + 4 * h, t + 5 * h],
            f"{p}_dropoff_datetime": [t, pd.NaT, t + h, t + 3 * h, t + 5 * h, t + 6 * h],
            "passenger_count": 1.0,
            "trip_distance": [2.0, 2.0, 2.0, 2.0, -1.0, 2.0],
            "PULocationID": np.int64(10),
            "DOLocationID": pd.array([20] * 6, dtype="Int64"),
            "fare_amount": 10.0,
            "total_amount": [12.0, 12.0, 12.0, 12.0, 12.0, -3.0],
        }
    )
    dup = pdf.iloc[[0]].copy()  # same (pickup, PU, DO) -> same trip_id
    dup["fare_amount"] = 99.0
    return pd.concat([pdf, rej, dup], ignore_index=True)


def _fhv(rng, year: int, month: int, n: int) -> pd.DataFrame:
    pickup = _month_times(rng, year, month, n)
    pdf = pd.DataFrame(
        {
            "dispatching_base_num": [f"B{int(i):05d}" for i in rng.integers(1, 300, size=n)],
            "pickup_datetime": pickup,
            "dropOff_datetime": pickup + pd.to_timedelta(rng.integers(60, 7200, size=n), unit="s"),
            "PUlocationID": rng.integers(1, 266, size=n).astype("int64"),
            "DOlocationID": rng.integers(1, 266, size=n).astype("int64"),
        }
    )
    pdf.loc[pdf.index[:3], "pickup_datetime"] = pd.NaT  # rejects
    return pdf


def _fhvhv(rng, year: int, month: int, n: int) -> pd.DataFrame:
    pickup = _month_times(rng, year, month, n)
    miles = rng.uniform(0.5, 25, size=n).round(2)
    miles[:3] = -1.0  # rejects
    return pd.DataFrame(
        {
            "hvfhs_license_num": rng.choice(["HV0002", "HV0003", "HV0004", "HV0005"], size=n),
            "dispatching_base_num": [f"B{int(i):05d}" for i in rng.integers(1, 300, size=n)],
            "pickup_datetime": pickup,
            "dropoff_datetime": pickup + pd.to_timedelta(rng.integers(120, 5400, size=n), unit="s"),
            "PULocationID": rng.integers(1, 266, size=n).astype("int64"),
            "DOLocationID": rng.integers(1, 266, size=n).astype("int64"),
            "trip_miles": miles,
            "base_passenger_fare": (miles * 2.1 + 3).round(2),
        }
    )


def taxi_month(rng: np.random.Generator, kind: str, year: int, month: int, n: int) -> pd.DataFrame:
    """One raw TLC monthly file's rows (TLC column-name casing; the
    pipeline reads columns case-insensitively)."""
    if kind in _PICKUP:
        return _yellow_like(rng, kind, year, month, n)
    return _fhv(rng, year, month, n) if kind == "fhv" else _fhvhv(rng, year, month, n)


def correct_month(rng: np.random.Generator, pdf: pd.DataFrame) -> pd.DataFrame:
    """A re-delivery of a month: the same trips (so the same trip keys),
    with seeded corrections to about 5% of the rows. No correction moves
    a row across the staging filter: a row that left it would survive in
    staging, as delete+insert only replaces keys present in the batch."""
    out = pdf.copy()
    n = len(out)
    idx = out.index[rng.choice(n, size=max(1, n // 20), replace=False)]
    if "fare_amount" in out:
        out.loc[idx, "fare_amount"] = (
            out.loc[idx, "fare_amount"] + rng.uniform(0.5, 3.0, size=len(idx))
        ).round(2)
        ok = idx[out.loc[idx, "total_amount"] >= 0]
        out.loc[ok, "total_amount"] = (out.loc[ok, "total_amount"] + 1.0).round(2)
    elif "base_passenger_fare" in out:
        out.loc[idx, "base_passenger_fare"] = (out.loc[idx, "base_passenger_fare"] + 1.25).round(2)
    else:
        out.loc[idx, "dispatching_base_num"] = "B00999"
    return out


def write_parquet(pdf: pd.DataFrame, path: str) -> int:
    """Write µs-timestamp parquet (the TLC file format); returns bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_parquet(path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    return os.path.getsize(path)


# --------------------------------------------------------------------------
# TPC-H-shaped star schema for the harness queries
# --------------------------------------------------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENTS = ("click", "error", "purchase", "signup", "view")


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = pd.Timestamp(start), pd.Timestamp(end)
    d = rng.integers(0, (hi - lo).days + 1, size=n)
    return (lo + pd.to_timedelta(d, unit="D")).values.astype("datetime64[us]")


def star_schema(rng: np.random.Generator, sf: float) -> dict[str, pd.DataFrame]:
    """Tables with the column names, types and value domains the harness
    queries filter on; ``sf`` scales row counts like TPC-H (sf 1 = 6 M
    lineitems)."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    region = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": list(_REGIONS)}
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, size=n_cust).astype("int32"),
            "c_acctbal": rng.uniform(-999.99, 9999.99, size=n_cust).round(2),
            "c_mktsegment": rng.choice(_SEGMENTS, size=n_cust),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, size=n_supp).astype("int32"),
            "s_acctbal": rng.uniform(-999.99, 9999.99, size=n_supp).round(2),
        }
    )
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, size=n_part)],
            "p_type": rng.choice(_PTYPES, size=n_part),
            "p_size": rng.integers(1, 51, size=n_part).astype("int32"),
            "p_retailprice": rng.uniform(900, 999.9, size=n_part).round(2),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, size=n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], size=n_ord),
            "o_totalprice": rng.uniform(1000, 500_000, size=n_ord).round(2),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(_PRIORITIES, size=n_ord),
        }
    )
    qty = rng.integers(1, 51, size=n_li).astype("float64")
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, size=n_li).astype("int64"),
            "l_partkey": rng.integers(0, n_part, size=n_li).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, size=n_li).astype("int64"),
            "l_linenumber": rng.integers(1, 8, size=n_li).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": (qty * rng.uniform(900, 2100, size=n_li)).round(2),
            "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
            "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], size=n_li),
            "l_linestatus": rng.choice(["F", "O"], size=n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.sort(rng.integers(0, 30 * 86400 * 10**6, size=n_ev)), unit="us"
    )
    value = rng.gamma(2.0, 30.0, size=n_ev).round(2)
    value[rng.choice(n_ev, size=n_ev // 100, replace=False)] = np.nan
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": ts.values.astype("datetime64[us]"),
            "user_id": rng.integers(0, max(2, n_ev // 66), size=n_ev).astype("int64"),
            "event_type": rng.choice(_EVENTS, size=n_ev),
            "value": value,
            "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, size=n_ev)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


# --------------------------------------------------------------------------
# Document + embedding corpus for the curation workload
# --------------------------------------------------------------------------

_STOP = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_SOURCES = ("web", "books", "code", "news")


def corpus(
    rng: np.random.Generator,
    n_docs: int,
    dim: int = 16,
    n_clusters: int = 16,
    n_queries: int = 16,
) -> dict[str, object]:
    """Documents with planted duplicates, plus embeddings and queries.

    Document classes: originals (40-80 words, about 20% stopwords, so
    each passes the text-quality filter); exact copies of an earlier
    original differing only in case and whitespace (the exact-dedup
    normal form); near copies with 2 words replaced; and 4-word
    low-quality stubs. Returns the docs frame, the expected curated
    survivor ids, the planted near/exact pairs, the embeddings frame
    and the held-out query frame.
    """
    vocab = np.array(
        ["".join(rng.choice(_LETTERS, size=int(k))) for k in rng.integers(4, 10, size=5000)]
    )
    texts, kind, orig_of = [], [], []
    n_exact, n_near, n_stub = n_docs // 10, n_docs // 10, n_docs // 20
    n_orig = n_docs - n_exact - n_near - n_stub
    for _ in range(n_orig):
        n = int(rng.integers(40, 81))
        words = np.where(rng.random(n) < 0.2, rng.choice(_STOP, size=n), rng.choice(vocab, size=n))
        texts.append(" ".join(words) + ".")
        kind.append("orig")
        orig_of.append(-1)
    for src in rng.choice(n_orig, size=n_exact, replace=False):
        t = texts[src].upper() if rng.random() < 0.5 else "  " + texts[src].replace(" ", "   ")
        texts.append(t)
        kind.append("exact")
        orig_of.append(int(src))
    for src in rng.choice(n_orig, size=n_near, replace=False):
        words = texts[src].split(" ")
        for pos in rng.choice(len(words) - 1, size=2, replace=False):
            words[pos] = str(rng.choice(vocab))
        texts.append(" ".join(words))
        kind.append("near")
        orig_of.append(int(src))
    for _ in range(n_stub):
        texts.append(" ".join(rng.choice(vocab, size=4)))
        kind.append("stub")
        orig_of.append(-1)
    # shuffle ids so copies are not always the larger id of their pair
    perm = rng.permutation(n_docs)
    doc_id = np.empty(n_docs, dtype="int64")
    doc_id[perm] = np.arange(n_docs)
    docs = pd.DataFrame(
        {
            "doc_id": doc_id,
            "source": rng.choice(_SOURCES, size=n_docs),
            "text": texts,
        }
    ).sort_values("doc_id", ignore_index=True)
    docs["n_chars"] = docs["text"].str.len().astype("int64")

    # curated survivors: non-stub docs, one per exact-normal-form group,
    # the smallest id canonical (curate_corpus's contract)
    groups: dict[int, list[int]] = {}
    near_pairs, exact_pairs = set(), set()
    for i, (k, o) in enumerate(zip(kind, orig_of)):
        if k == "stub":
            continue
        root = o if k == "exact" else i
        groups.setdefault(root, []).append(int(doc_id[i]))
        if k != "orig":
            a, b = sorted((int(doc_id[i]), int(doc_id[o])))
            (exact_pairs if k == "exact" else near_pairs).add((a, b))
    survivors = sorted(min(ids) for ids in groups.values())

    centers = rng.normal(0, 1, size=(n_clusters, dim))
    n_vec = n_docs
    cell = rng.integers(0, n_clusters, size=n_vec)
    vecs = centers[cell] + rng.normal(0, 0.15, size=(n_vec, dim))
    qcell = rng.integers(0, n_clusters, size=n_queries)
    qvecs = centers[qcell] + rng.normal(0, 0.15, size=(n_queries, dim))
    embeddings = pd.DataFrame(
        {"vec_id": np.arange(n_vec, dtype="int64"), "embedding": list(vecs.round(6))}
    )
    queries = pd.DataFrame(
        {"qid": np.arange(n_queries, dtype="int64"), "qv": list(qvecs.round(6))}
    )
    return {
        "docs": docs,
        "survivors": survivors,
        "near_pairs": near_pairs,
        "exact_pairs": exact_pairs,
        "embeddings": embeddings,
        "queries": queries,
    }
