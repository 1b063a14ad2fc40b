"""Self-tests of the benchmark's own parts (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib

import pytest

from perfbench import gen, oracle, stats
from perfbench.gen import Txn


def _digest(chunks) -> str:
    h = hashlib.sha256()
    for c in chunks:
        h.update(c if isinstance(c, bytes) else c.encode())
    return h.hexdigest()


def test_same_seed_gives_byte_identical_inputs():
    def inputs(seed):
        lines, _ = gen.live_wal2json(seed, 50)
        fs, _txns, ks, rng = gen.pgoutput_backlog(seed, changes=3000)
        tail, _ = gen.pgoutput_tail(fs, ks, rng, 5)
        v2, _ = gen.streamed_backlog(seed, streamed_txns=3, per_txn=600,
                                     segment=100)
        return (_digest(lines), _digest(fs.frames),
                _digest(f for seg in tail for f in seg), _digest(v2.frames))

    assert inputs(7) == inputs(7)
    assert all(a != b for a, b in zip(inputs(7), inputs(8)))


def _row(key, n):
    return (key, str(n), f"{n:08x}")


def test_oracle_on_hand_built_stream():
    cols = ["id", "amount", "v"]
    plain = Txn(xid=1, commit_lsn=10, subs=[None] * 3, changes=[
        ("I", "1", _row("1", 1)),
        ("I", "2", _row("2", 2)),
        ("I", "3", _row("3", 3)),
    ])
    edits = Txn(xid=2, commit_lsn=20, subs=[None] * 3, changes=[
        ("U", "1", _row("1", 11)),       # update in place
        ("D", "2"),                       # delete
        ("U", "3", _row("4", 44)),       # key change 3 -> 4
    ])
    truncated = Txn(xid=3, commit_lsn=30, subs=[None, None], changes=[
        ("T",),
        ("I", "5", _row("5", 5)),
    ])
    # streamed: begins before ``truncated`` but commits after it; its
    # aborted subtransaction's insert disappears, the committed one stays
    streamed = Txn(xid=4, commit_lsn=40, subs=[None, 41, 42],
                   aborted_subs={41}, changes=[
                       ("I", "6", _row("6", 6)),
                       ("I", "7", _row("7", 7)),
                       ("I", "8", _row("8", 8)),
                   ])
    aborted = Txn(xid=5, commit_lsn=35, aborted=True, subs=[None, None],
                  changes=[("D", "5"), ("I", "9", _row("9", 9))])
    got = oracle.replay([streamed, aborted, truncated, edits, plain], cols)
    assert sorted(got) == ["5", "6", "8"]
    assert got["6"] == {"id": "6", "amount": "6", "v": "0000000602"}

    without_truncate = oracle.replay([plain, edits], cols)
    assert sorted(without_truncate) == ["1", "4"]
    assert without_truncate["1"]["amount"] == "11"


def test_oracle_compare_counts_every_differing_row():
    exp = {"1": {"id": "1"}, "2": {"id": "2"}, "3": {"id": "3"}}
    rep = {"1": {"id": "1"}, "3": {"id": "x"}, "4": {"id": "4"}}
    c = oracle.compare(rep, exp)
    assert (c["attempted"], c["failed"]) == (4, 3)
    assert (c["missing"], c["extra"], c["differ"]) == (1, 1, 1)


def test_percentile_helper_needs_ten_beyond():
    vals = [float(i) for i in range(1, 201)]
    s = stats.summarize(vals)
    assert s["n"] == 200 and s["p50"] == 100.0
    assert s["tail_pct"] == 95.0 and s["tail"] == 190.0
    assert stats.beyond(200, 95.0) == 10
    # one sample fewer leaves only nine beyond p95
    assert stats.summarize(vals[:199])["tail_pct"] == 90.0
    with pytest.raises(ValueError, match="ten samples beyond"):
        stats.tail_value(vals[:199], 95.0)
    assert stats.tail_value(vals, 95.0) == 190.0
    assert stats.min_samples(95.0) == 200
    few = stats.summarize([1.0] * 15)
    assert few["n"] == 15 and few["tail_pct"] is None


def test_streamed_backlog_shape():
    fs, txns = gen.streamed_backlog(5)
    dml = gen.count_dml(txns)
    assert 95_000 <= dml <= 110_000
    streamed = [t for t in txns if len(t.changes) == 4000]
    assert len(streamed) == 25
    assert any(t.aborted for t in streamed)
    assert any(t.aborted_subs for t in streamed if not t.aborted)
    # the last frame is a plain commit, so a committed position can
    # reach the log's last LSN
    assert fs.frames[-1][25:26] == b"C"
