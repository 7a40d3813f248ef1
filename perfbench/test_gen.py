"""The seeded input generator: same seed, same rows; other seed, other
rows; the records describe what was written."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

import gen


def _rows(path: str) -> list[tuple]:
    t = pq.read_table(path)
    return list(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def test_events_same_seed_same_rows(tmp_path):
    a = gen.write_events(7, str(tmp_path / "a"), 2000)
    b = gen.write_events(7, str(tmp_path / "b"), 2000)
    assert a == b
    assert _rows(str(tmp_path / "a/events.parquet")) == _rows(str(tmp_path / "b/events.parquet"))


def test_events_other_seed_other_rows(tmp_path):
    gen.write_events(7, str(tmp_path / "a"), 2000)
    gen.write_events(8, str(tmp_path / "b"), 2000)
    assert _rows(str(tmp_path / "a/events.parquet")) != _rows(str(tmp_path / "b/events.parquet"))


def test_events_record(tmp_path):
    rec = gen.write_events(3, str(tmp_path), 10_000, dup_share=0.1)
    rows = _rows(str(tmp_path / "events.parquet"))
    ids = [r[0] for r in rows]
    assert rec["rows"] == len(rows) == 10_000
    assert rec["unique_ids"] == len(set(ids)) == 9_000
    assert rec["dup_share"] == 0.1
    errors = sum(r[3] == "error" for r in rows) / len(rows)
    assert abs(rec["error_share"] - errors) < 1e-4
    assert 0.17 < errors < 0.23
    # a re-delivered row is an exact copy of the first delivery
    first = {}
    for r in rows:
        assert first.setdefault(r[0], r) == r


def test_arrivals_split_and_redelivery(tmp_path):
    rec = gen.write_arrivals(5, str(tmp_path), files=4, rows_per_file=1000, dup_share=0.1)
    files = sorted(os.listdir(tmp_path))
    assert files == [f"arrival_{k:03d}.parquet" for k in range(4)]
    assert [a["rows"] for a in rec["arrivals"]] == [1000] * 4
    assert [a["redelivered"] for a in rec["arrivals"]] == [0, 100, 100, 100]
    seen: set[int] = set()
    for k, name in enumerate(files):
        ids = [r[0] for r in _rows(str(tmp_path / name))]
        fresh = [i for i in ids if i not in seen]
        assert len(ids) - len(fresh) == rec["arrivals"][k]["redelivered"]
        seen.update(ids)
    assert rec["unique_ids"] == len(seen) == 3700


def test_arrivals_seeded(tmp_path):
    gen.write_arrivals(5, str(tmp_path / "a"), 2, 500)
    gen.write_arrivals(5, str(tmp_path / "b"), 2, 500)
    gen.write_arrivals(6, str(tmp_path / "c"), 2, 500)
    a, b, c = (_rows(str(tmp_path / d / "arrival_001.parquet")) for d in "abc")
    assert a == b
    assert a != c


def test_mix_tables_seeded(tmp_path):
    a = gen.write_mix_tables(1, str(tmp_path / "a"), scale=0.001)
    gen.write_mix_tables(1, str(tmp_path / "b"), scale=0.001)
    gen.write_mix_tables(2, str(tmp_path / "c"), scale=0.001)
    assert a["rows"]["lineitem"] == 6000
    for t in ("lineitem", "documents", "embeddings", "events"):
        ra, rb, rc = (_rows(str(tmp_path / d / f"{t}.parquet")) for d in "abc")
        assert ra == rb
        assert ra != rc
