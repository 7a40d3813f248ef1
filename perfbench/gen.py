"""Seeded input generator for the benchmark workloads.

Every table is a pure function of its seed and size arguments, and is
written only under the directory the caller passes (the benchmark's
own work directory inside the checkout). The shapes follow the
repository's parquet fixtures: a TPC-H-like star schema, an ``events``
stream table, a ``documents`` corpus and an ``embeddings`` table, with
the same column names and physical types.

- ``write_events``: the ``etl_full`` input, one ``events`` table with a
  seeded share of re-delivered incident ids (exact copies of earlier
  rows, as a re-sent report would carry them).
- ``write_arrivals``: the ``stream_ingest`` input, events-shaped report
  files that land one at a time; each file after the first re-delivers
  a share of its rows from earlier files.
- ``write_mix_tables``: the ``query_mix`` dataset, all ten tables the
  registry queries read.

Each writer returns a record of what it wrote: row counts, duplicate
share, error share and, for arrivals, the split across files.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
N_USERS = 1500
TS0 = np.datetime64("2024-01-01T00:00:00", "us")
SPAN_US = 30 * 24 * 3600 * 10**6

WORDS = np.array(
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the".split()
)
LANGS = np.array(["en", "es", "fr", "de", "zh"])
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]


def _events(rng: np.random.Generator, first_id: int, n: int, ts_lo: int, ts_hi: int) -> dict:
    """``n`` fresh events with ids ``first_id..``, ts-ordered in
    ``[ts_lo, ts_hi)`` microseconds after TS0."""
    ts = np.sort(rng.integers(ts_lo, ts_hi, n))
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": TS0 + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, N_USERS, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.gamma(2.0, 25.0, n), 2),
        "props": np.char.add(
            np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"
        ),
    }


def _take(cols: dict, idx: np.ndarray) -> dict:
    return {k: v[idx] for k, v in cols.items()}


def _concat(parts: list[dict]) -> dict:
    return {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}


def _events_table(cols: dict) -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": pa.array(cols["ts"], pa.timestamp("us")),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"].tolist(), pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array(cols["props"].tolist(), pa.string()),
        }
    )


def _error_share(cols: dict) -> float:
    return round(float(np.mean(cols["event_type"] == "error")), 4)


def write_events(seed: int, out_dir: str, rows: int, dup_share: float = 0.10) -> dict:
    """``out_dir/events.parquet`` with ``rows`` rows, of which
    ``dup_share`` are re-delivered copies of other rows."""
    rng = np.random.default_rng([seed, 1])
    n_dup = int(round(rows * dup_share))
    base = _events(rng, 0, rows - n_dup, 0, SPAN_US)
    redelivered = _take(base, rng.integers(0, rows - n_dup, n_dup))
    cols = _concat([base, redelivered])
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(_events_table(cols), os.path.join(out_dir, "events.parquet"))
    return {
        "rows": rows,
        "unique_ids": rows - n_dup,
        "dup_share": round(n_dup / rows, 4),
        "error_share": _error_share(cols),
    }


def write_arrivals(
    seed: int, out_dir: str, files: int, rows_per_file: int, dup_share: float = 0.10
) -> dict:
    """``files`` report files ``arrival_NNN.parquet`` in ``out_dir``.
    File ``k`` covers the ``k``-th slice of the time span; from the
    second file on, ``dup_share`` of its rows re-deliver rows of
    earlier files."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    sent: list[dict] = []
    split = []
    next_id = 0
    slice_us = SPAN_US // files
    for k in range(files):
        n_dup = int(round(rows_per_file * dup_share)) if k else 0
        fresh = _events(
            rng, next_id, rows_per_file - n_dup, k * slice_us, (k + 1) * slice_us
        )
        next_id += rows_per_file - n_dup
        parts = [fresh]
        if n_dup:
            earlier = _concat(sent)
            parts.append(_take(earlier, rng.integers(0, len(earlier["event_id"]), n_dup)))
        cols = _concat(parts)
        sent.append(fresh)
        pq.write_table(
            _events_table(cols), os.path.join(out_dir, f"arrival_{k:03d}.parquet")
        )
        split.append({"rows": rows_per_file, "redelivered": n_dup})
    all_rows = _concat(sent)
    return {
        "rows": files * rows_per_file,
        "unique_ids": next_id,
        "dup_share": round(sum(s["redelivered"] for s in split) / (files * rows_per_file), 4),
        "error_share": _error_share(all_rows),
        "arrivals": split,
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, lo: str, days: int, n: int) -> np.ndarray:
    d = np.datetime64(lo, "D") + rng.integers(0, days, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary; a tenth are
    near-duplicates of an earlier document (one word changed, one
    appended), so the dedup and similarity operators find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            words.append(str(WORDS[int(rng.integers(0, len(WORDS)))]))
        else:
            words = WORDS[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))].tolist()
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)].tolist()),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] + rng.normal(0, 0.6, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def write_mix_tables(seed: int, out_dir: str, scale: float = 0.01) -> dict:
    """The ten registry tables at ``scale`` (1.0 ≈ 6 M lineitem rows)."""
    rng = np.random.default_rng([seed, 3])
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_li = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_doc = max(50, int(50_000 * scale))
    n_emb = max(50, int(50_000 * scale))
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(
                np.array(["BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE"])[
                    rng.integers(0, 5, n_cust)
                ].tolist()
            ),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(["large", "hot", "blue", "red", "small", "old", "cold", "new"])
    noun = np.array(["ring", "bolt", "plate", "widget", "rod", "gizmo", "gear", "anvil"])
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": np.char.add(
                np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                noun[rng.integers(0, 8, n_part)],
            ).tolist(),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL"])[
                rng.integers(0, 5, n_part)
            ].tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    o_date = _dates(rng, "1995-01-01", 2404, n_ord)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(o_date, pa.timestamp("us")),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_ord)].tolist(),
        }
    )
    l_order = np.sort(rng.integers(0, n_ord, n_li))
    l_line = np.ones(n_li, dtype=np.int32)
    same = np.r_[False, l_order[1:] == l_order[:-1]]
    for i in np.nonzero(same)[0]:
        l_line[i] = min(l_line[i - 1] + 1, 7)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order.astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
            "l_linenumber": pa.array(l_line),
            "l_quantity": qty,
            "l_extendedprice": _money(rng, 900.0, 100000.0, n_li),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)].tolist(),
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)].tolist(),
            "l_shipdate": pa.array(
                o_date[l_order] + rng.integers(1, 95, n_li).astype("timedelta64[D]"),
                pa.timestamp("us"),
            ),
        }
    )
    tables["events"] = _events_table(_events(rng, 0, n_ev, 0, SPAN_US))
    tables["documents"] = _documents(rng, n_doc)
    tables["embeddings"] = _embeddings(rng, n_emb)
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {"scale": scale, "rows": {k: t.num_rows for k, t in tables.items()}}


def digest(paths: list[str]) -> str:
    """Content digest of the given files, in the order given."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]
