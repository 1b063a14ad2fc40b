"""Seeded workload generators.

Every input is generated and encoded here, before any timing starts, from
``random.Random(seed)``: the same seed gives byte-identical inputs. A
generator returns two views of the same stream:

* the encoded form the program reads (wal2json JSON lines, or pgoutput
  messages wrapped in XLogData COPY frames), and
* the logical transactions the oracle replays (``oracle.replay``).

A logical change is a tuple:

* ``("I", key, row)``       insert
* ``("U", old_key, row)``   update; ``row[key column] != old_key`` is a
  key change
* ``("D", key)``            delete
* ``("T",)``                truncate of the table

and a transaction is a :class:`Txn`.
"""

from __future__ import annotations

import json
import random
import struct
from dataclasses import dataclass, field

from pg_logical_replication_spark.sources import pgoutput_format as pgf

# pgoutput table: the reference's huge_transaction shape, 20 text columns
PG_OID = 16385
PG_TABLE = "huge_transaction"
PG_COLUMNS = [f"col{j:02d}" for j in range(20)]
PG_KEY = "col00"
PG_TEXT_OID = 25

# wal2json table of the live trickle
W2J_TABLE = "t"
W2J_COLUMNS = ["id", "amount", "v"]
W2J_TYPES = ["bigint", "bigint", "text"]

LIVE_CHANGES_PER_SEGMENT = 20

FIRST_LSN = 0x1000000
LSN_STEP = 0x40
TS_BASE_US = 1_700_000_000_000_000


def lsn_str(v: int) -> str:
    return f"{v >> 32:X}/{v & 0xFFFFFFFF:X}"


def xlog_frame(lsn: int, payload: bytes) -> bytes:
    """An XLogData ('w') COPY frame: walStart, walEnd, server time, payload."""
    return b"w" + struct.pack(">QQQ", lsn, lsn, 0) + payload


@dataclass
class Txn:
    xid: int
    changes: list = field(default_factory=list)
    # subtransaction xid per change (None: top level), parallel to changes
    subs: list = field(default_factory=list)
    aborted: bool = False
    aborted_subs: set = field(default_factory=set)
    # position of the txn's commit (or abort) in the stream; the oracle
    # applies transactions in this order
    commit_lsn: int = 0


class KeySpace:
    """Live/absent key bookkeeping so that every generated change is
    valid against the state it lands on (no insert of a live key, no
    update or delete of an absent one)."""

    def __init__(self, rng: random.Random, keys: range):
        self.rng = rng
        self.absent = list(keys)
        self.live: list[int] = []
        self.pos: dict[int, int] = {}

    def _take(self, lst: list, i: int) -> int:
        v = lst[i]
        last = lst.pop()
        if i < len(lst):
            lst[i] = last
        return v

    def add(self, k: int) -> None:
        self.pos[k] = len(self.live)
        self.live.append(k)

    def remove(self, k: int) -> None:
        i = self.pos.pop(k)
        last = self.live.pop()
        if i < len(self.live):
            self.live[i] = last
            self.pos[last] = i

    def new_key(self) -> int | None:
        if not self.absent:
            return None
        return self._take(self.absent, self.rng.randrange(len(self.absent)))

    def live_key(self) -> int | None:
        if not self.live:
            return None
        return self.live[self.rng.randrange(len(self.live))]

    def clear(self) -> None:
        self.absent.extend(self.live)
        self.absent.sort()
        self.live.clear()
        self.pos.clear()


def _row(rng: random.Random, key: int) -> tuple:
    """A compact row ``(key, number, hex8)`` from one random draw;
    :func:`expand` renders it."""
    r = rng.getrandbits(32)
    return (str(key), str(r % 100_000), f"{r:08x}")


def expand(row: tuple, ncols: int) -> list[str]:
    """Column values of a compact row: the key, a numeric column, then
    ``ncols - 2`` text columns."""
    return [row[0], row[1]] + [row[2] + f"{j:02d}" for j in range(2, ncols)]


def dml(rng: random.Random, ks: KeySpace, mix: tuple[float, float, float],
        key_change_share: float = 0.0):
    """One valid change drawn from the insert/update/delete ``mix``."""
    x = rng.random()
    op = "I" if x < mix[0] else ("U" if x < mix[0] + mix[1] else "D")
    if op != "I" and not ks.live:
        op = "I"
    if op == "I":
        k = ks.new_key()
        if k is None:
            op = "U"
        else:
            ks.add(k)
            return ("I", str(k), _row(rng, k))
    k = ks.live_key()
    if op == "D":
        ks.remove(k)
        ks.absent.append(k)
        return ("D", str(k))
    if key_change_share and rng.random() < key_change_share and ks.absent:
        nk = ks.new_key()
        ks.remove(k)
        ks.absent.append(k)
        ks.add(nk)
        return ("U", str(k), _row(rng, nk))
    return ("U", str(k), _row(rng, k))


# ------------------------------------------------------------- wal2json
def wal2json_line(txn: Txn) -> str:
    """One wal2json (format 1) changeset: one line, one transaction."""
    out = []
    for ch in txn.changes:
        if ch[0] == "D":
            out.append({
                "kind": "delete", "schema": "public", "table": W2J_TABLE,
                "oldkeys": {"keynames": ["id"], "keytypes": ["bigint"],
                            "keyvalues": [ch[1]]},
            })
            continue
        row = ch[2]
        c = {
            "kind": "insert" if ch[0] == "I" else "update",
            "schema": "public", "table": W2J_TABLE,
            "columnnames": W2J_COLUMNS, "columntypes": W2J_TYPES,
            "columnvalues": expand(row, len(W2J_COLUMNS)),
        }
        if ch[0] == "U":
            c["oldkeys"] = {"keynames": ["id"], "keytypes": ["bigint"],
                            "keyvalues": [ch[1]]}
        out.append(c)
    return json.dumps({
        "xid": txn.xid,
        "nextlsn": lsn_str(txn.commit_lsn),
        "timestamp": "2023-11-14 22:13:20.000000+00",
        "change": out,
    }, separators=(",", ":"))


def live_wal2json(seed: int, segments: int,
                  changes_per_segment: int = LIVE_CHANGES_PER_SEGMENT,
                  keys: int = 5000, mix=(0.5, 0.4, 0.1)):
    """The live trickle: ``segments`` wal2json segments of one
    transaction each. Returns ``(lines, txns)``."""
    rng = random.Random(seed)
    ks = KeySpace(rng, range(1, keys + 1))
    lines, txns = [], []
    for s in range(segments):
        t = Txn(xid=1000 + s, commit_lsn=FIRST_LSN + (s + 1) * LSN_STEP)
        for _ in range(changes_per_segment):
            t.changes.append(dml(rng, ks, mix))
            t.subs.append(None)
        txns.append(t)
        lines.append(wal2json_line(t))
    return lines, txns


# ------------------------------------------------------------- pgoutput
def relation_message() -> bytes:
    return pgf.encode_relation(
        PG_OID, "public", PG_TABLE,
        [(c, PG_TEXT_OID) for c in PG_COLUMNS], key_columns=[PG_KEY],
    )


def relations_registry() -> dict:
    """The relation cache a consumer passes as ``relations=``."""
    cache: dict = {}
    pgf.parse_message(relation_message(), cache)
    return cache


def _key_tuple(key: str) -> list:
    # replica identity DEFAULT: the old-key tuple carries every column,
    # NULL outside the key
    return [("t", key)] + [("n", None)] * (len(PG_COLUMNS) - 1)


def expand_pairs(row: tuple) -> list:
    return [("t", v) for v in expand(row, len(PG_COLUMNS))]


def encode_change(ch) -> bytes:
    """One logical change as a pgoutput message, by the library's
    encoders."""
    if ch[0] == "I":
        return pgf.encode_insert(PG_OID, expand_pairs(ch[2]))
    if ch[0] == "U":
        # PG sends the old key only when the update changes it
        old = _key_tuple(ch[1]) if ch[2][0] != ch[1] else None
        return pgf.encode_update(PG_OID, expand_pairs(ch[2]), old=old,
                                 old_kind="K")
    if ch[0] == "D":
        return pgf.encode_delete(PG_OID, _key_tuple(ch[1]))
    return pgf.encode_truncate([PG_OID])


class FrameStream:
    """Allocates LSNs and renders messages as XLogData frames."""

    def __init__(self, first_lsn: int = FIRST_LSN):
        self.lsn = first_lsn
        self.frames: list[bytes] = []

    def emit(self, payload: bytes) -> int:
        self.lsn += LSN_STEP
        self.frames.append(xlog_frame(self.lsn, payload))
        return self.lsn

    def v1_txn(self, txn: Txn) -> None:
        commit = self.lsn + (len(txn.changes) + 2) * LSN_STEP
        ts = TS_BASE_US + txn.xid
        self.emit(pgf.encode_begin(lsn_str(commit), ts, txn.xid))
        for ch in txn.changes:
            self.emit(encode_change(ch))
        txn.commit_lsn = self.emit(
            pgf.encode_commit(lsn_str(commit), lsn_str(commit + 8), ts)
        )


def v1_txns(rng: random.Random, ks: KeySpace, n_changes: int,
            per_txn: int, mix, key_change_share: float, first_xid: int):
    txns = []
    for i in range(0, n_changes, per_txn):
        t = Txn(xid=first_xid + len(txns))
        for _ in range(min(per_txn, n_changes - i)):
            t.changes.append(dml(rng, ks, mix, key_change_share))
            t.subs.append(None)
        txns.append(t)
    return txns


def pgoutput_backlog(seed: int, changes: int = 100_000, per_txn: int = 100,
                     keys: int = 20_000, mix=(0.6, 0.3, 0.1),
                     key_change_share: float = 0.005, truncate: bool = True,
                     first_lsn: int = FIRST_LSN, first_xid: int = 10_000):
    """The pgoutput v1 catch-up backlog: ``changes`` DML changes in
    ``per_txn``-change transactions, a relation message first, and (when
    ``truncate``) one TRUNCATE transaction at a seeded position in the
    middle half of the log. Returns ``(frames, txns, keyspace, rng)``;
    the key space and generator continue into a live tail."""
    rng = random.Random(seed)
    ks = KeySpace(rng, range(1, keys + 1))
    n_txn = -(-changes // per_txn)
    at = rng.randrange(n_txn // 4, 3 * n_txn // 4) if truncate else n_txn
    head = min(changes, at * per_txn)
    txns = v1_txns(rng, ks, head, per_txn, mix, key_change_share, first_xid)
    if truncate:
        txns.append(Txn(xid=first_xid + at, changes=[("T",)], subs=[None]))
        ks.clear()
        txns += v1_txns(rng, ks, changes - head, per_txn, mix,
                        key_change_share, first_xid + at + 1)
    fs = FrameStream(first_lsn)
    fs.emit(relation_message())
    for t in txns:
        fs.v1_txn(t)
    return fs, txns, ks, rng


def pgoutput_tail(fs: FrameStream, ks: KeySpace, rng: random.Random,
                  segments: int, per_segment: int = LIVE_CHANGES_PER_SEGMENT,
                  mix=(0.5, 0.4, 0.1),
                  first_xid: int = 900_000):
    """Live tail after a catch-up: ``segments`` v1 transactions of
    ``per_segment`` changes, each rendered to its own frame list."""
    segs, txns = [], []
    for s in range(segments):
        t = v1_txns(rng, ks, per_segment, per_segment, mix, 0.0,
                    first_xid + s)[0]
        start = len(fs.frames)
        fs.v1_txn(t)
        segs.append(fs.frames[start:])
        txns.append(t)
    del fs.frames[-sum(len(s) for s in segs):]
    return segs, txns


def streamed_backlog(seed: int, streamed_txns: int = 25, per_txn: int = 4000,
                     concurrent: int = 4, segment: int = 500,
                     keys_per_txn: int = 3000, plain_keys: int = 5000,
                     plain_per_txn: int = 10, abort_share: float = 0.2,
                     sub_abort_share: float = 0.3, mix=(0.6, 0.3, 0.1)):
    """Protocol-v2 backlog: ``streamed_txns`` streamed transactions of
    ``per_txn`` changes, ``concurrent`` open at once, each on its own key
    set, interleaved in ``segment``-change S..E segments; a share abort
    at top level, and some carry an aborted subtransaction (inserts of
    keys nothing else touches) plus a committed one. A small plain v1
    transaction sits between segments. The log ends with a plain
    transaction, so its commit is the last frame.
    Returns ``(frames, txns_in_commit_order)``."""
    rng = random.Random(seed)
    fs = FrameStream()
    fs.emit(relation_message())
    plain_ks = KeySpace(rng, range(1, plain_keys + 1))
    done: list[Txn] = []
    next_xid = [50_000]
    key_base = [plain_keys + 1]

    def plain_txn():
        t = v1_txns(rng, plain_ks, plain_per_txn, plain_per_txn, mix, 0.0,
                    next_xid[0])[0]
        next_xid[0] += 1
        fs.v1_txn(t)
        done.append(t)

    def new_streamed():
        xid = next_xid[0]
        next_xid[0] += 10
        lo = key_base[0]
        key_base[0] += keys_per_txn + per_txn
        ks = KeySpace(rng, range(lo, lo + keys_per_txn))
        reserved = iter(range(lo + keys_per_txn, lo + keys_per_txn + per_txn))
        t = Txn(xid=xid, aborted=rng.random() < abort_share)
        has_sub = rng.random() < sub_abort_share
        sub_lo = rng.randrange(per_txn // 2) if has_sub else per_txn
        for i in range(per_txn):
            if sub_lo <= i < sub_lo + 200:
                k = next(reserved)  # aborted subxact: untouched keys
                t.changes.append(("I", str(k), _row(rng, k)))
                t.subs.append(xid + 1)
            else:
                t.changes.append(dml(rng, ks, mix))
                # a committed subtransaction rides along
                t.subs.append(xid + 2 if i % 7 == 3 else None)
        if has_sub:
            t.aborted_subs.add(xid + 1)
        return t

    pending = [new_streamed() for _ in range(min(concurrent, streamed_txns))]
    started = len(pending)
    cursor = {id(t): 0 for t in pending}
    first = {id(t): True for t in pending}
    sub_abort_sent: set = set()
    while pending:
        for t in list(pending):
            i = cursor[id(t)]
            fs.emit(pgf.encode_stream_start(t.xid, first_segment=first[id(t)]))
            first[id(t)] = False
            for j in range(i, min(i + segment, len(t.changes))):
                sub = t.subs[j]
                fs.emit(pgf.with_stream_xid(sub or t.xid,
                                            encode_change(t.changes[j])))
            fs.emit(pgf.encode_stream_stop())
            cursor[id(t)] = i = min(i + segment, len(t.changes))
            sub = next(iter(t.aborted_subs), None)
            if (sub is not None and id(t) not in sub_abort_sent
                    and i > t.subs.index(sub) + 200):
                fs.emit(pgf.encode_stream_abort(t.xid, sub))
                sub_abort_sent.add(id(t))
            if i >= len(t.changes):
                if t.aborted:
                    fs.emit(pgf.encode_stream_abort(t.xid))
                    t.commit_lsn = fs.lsn
                else:
                    c = fs.lsn + LSN_STEP
                    t.commit_lsn = fs.emit(pgf.encode_stream_commit(
                        t.xid, lsn_str(c), lsn_str(c + 8), TS_BASE_US + t.xid))
                done.append(t)
                pending.remove(t)
                if started < streamed_txns:
                    n = new_streamed()
                    started += 1
                    pending.append(n)
                    cursor[id(n)] = 0
                    first[id(n)] = True
            plain_txn()
    plain_txn()
    return fs, done


def count_dml(txns) -> int:
    return sum(len(t.changes) for t in txns)
