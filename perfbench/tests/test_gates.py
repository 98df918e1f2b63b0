"""Each correctness gate of the benchmark passes on a good output and trips
on a corrupted one. No Spark: the gates are functions of the outputs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import changelog, corpus, workloads  # noqa: E402


@pytest.fixture(scope="module")
def wh_log(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wh"))
    paths, injected = changelog.warehouse_log(
        d, seed=3, n_batches=4, events=200, n_urls=150, v2_from=1, v3_from=2
    )
    return paths, injected


def _state_rows(paths, warehouse):
    return [(u, ts, text) for u, (ts, text) in changelog.fold(paths, warehouse).items()]


# ----------------------------------------------------------- replays --


def test_state_gate_passes_on_oracle_state(wh_log):
    paths, _ = wh_log
    rows = _state_rows(paths, True)
    assert workloads.check_state(rows, changelog.oracle_digest(paths, True)) == []


@pytest.mark.parametrize("corrupt", ["text", "ts", "drop_row", "extra_row"])
def test_state_gate_trips_on_corrupted_table(wh_log, corrupt):
    paths, _ = wh_log
    rows = sorted(_state_rows(paths, True))
    u, ts, text = rows[0]
    if corrupt == "text":
        rows[0] = (u, ts, (text or "") + " x")
    elif corrupt == "ts":
        rows[0] = (u, "1999-01-01 00:00:00", text)
    elif corrupt == "drop_row":
        rows = rows[1:]
    else:
        rows.append(("https://d0.example.com/page/zzz", ts, text))
    assert workloads.check_state(rows, changelog.oracle_digest(paths, True))


def test_oracle_skips_injected_rows_and_resolves_placeholders(wh_log):
    paths, injected = wh_log
    state = changelog.fold(paths, True)
    assert not any(u.startswith("http://") or not u for u in state)
    assert not any(
        text is not None and changelog.PLACEHOLDER_B64 in text for _ts, text in state.values()
    )
    assert sum(i["placeholders"] for i in injected.values()) > 0
    # the plain fold does not know the injected rows: the states differ
    assert changelog.oracle_digest(paths, False) != changelog.oracle_digest(paths, True)


def test_exactly_once_gate():
    ids = ["batch-00000.csv", "batch-00001.csv"]
    assert workloads.check_exactly_once({"batches_applied": ids}, ids, 5, 5) == []
    assert workloads.check_exactly_once({"batches_applied": ids + ids[:1]}, ids, 5, 5)
    assert workloads.check_exactly_once({"batches_applied": ids[::-1]}, ids, 5, 5)
    assert workloads.check_exactly_once({"batches_applied": ids}, ids, 5, 6)


def _write_dlq(lake, bid, n):
    d = os.path.join(lake, "dlq", bid)
    os.makedirs(d)
    pq.write_table(pa.table({"url": [None] * n}), os.path.join(d, "part-0.parquet"))


def test_dlq_gate(tmp_path):
    lake = str(tmp_path)
    injected = {"b0.csv": {"malformed": 3, "http": 2, "placeholders": 1}}
    ckpt = {
        "rejected_rows": {"b0.csv": 3},
        "expectation_violations": {"b0.csv": {"dropped": 2}},
    }
    _write_dlq(lake, "b0.csv", 3)
    assert workloads.check_dlq(ckpt, injected, lake) == []
    assert workloads.check_dlq({**ckpt, "rejected_rows": {"b0.csv": 2}}, injected, lake)
    bad_drop = {**ckpt, "expectation_violations": {"b0.csv": {"dropped": 0}}}
    assert workloads.check_dlq(bad_drop, injected, lake)
    _write_dlq(lake, "b1.csv", 1)
    injected["b1.csv"] = {"malformed": 3, "http": 2, "placeholders": 0}
    ckpt["rejected_rows"]["b1.csv"] = 3
    ckpt["expectation_violations"]["b1.csv"] = {"dropped": 2}
    fails = workloads.check_dlq(ckpt, injected, lake)
    assert len(fails) == 1 and "on disk" in fails[0]


# -------------------------------------------------------------- corpus --


def test_entry_gate_trips_on_corrupted_output(tmp_path):
    good = pa.table({"id": [1, 2, 3], "score": [0.1234561, 0.5, 2.0]})
    pq.write_table(good, tmp_path / "good.parquet")
    want = corpus.rows_digest(good.column_names, zip(*good.to_pydict().values()))
    got = corpus.parquet_digest(str(tmp_path / "good.parquet"))
    assert workloads.check_entries({"e": got}, {"e": want}) == []

    # row order and float noise below the rounding do not matter
    shuffled = pa.table({"score": [2.0, 0.1234559, 0.5], "id": [3, 1, 2]})
    pq.write_table(shuffled, tmp_path / "shuffled.parquet")
    got = corpus.parquet_digest(str(tmp_path / "shuffled.parquet"))
    assert workloads.check_entries({"e": got}, {"e": want}) == []

    for name, bad in {
        "value": pa.table({"id": [1, 2, 3], "score": [0.1234561, 0.6, 2.0]}),
        "missing_row": pa.table({"id": [1, 2], "score": [0.1234561, 0.5]}),
        "renamed": pa.table({"ID": [1, 2, 3], "score": [0.1234561, 0.5, 2.0]}),
    }.items():
        pq.write_table(bad, tmp_path / f"{name}.parquet")
        got = corpus.parquet_digest(str(tmp_path / f"{name}.parquet"))
        assert workloads.check_entries({"e": got}, {"e": want}), name


def test_corpus_tables_repeat_per_seed(tmp_path):
    corpus.write_tables(str(tmp_path / "a"), 7, 50, 20)
    corpus.write_tables(str(tmp_path / "b"), 7, 50, 20)
    corpus.write_tables(str(tmp_path / "c"), 8, 50, 20)
    for t in ("documents", "embeddings"):
        a = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
        assert not a.equals(pq.read_table(tmp_path / "c" / f"{t}.parquet"))
