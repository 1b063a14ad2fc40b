"""Pure-Python replica: the reference computation every run is checked
against.

``replay`` applies the generated transactions in commit order, drops
aborted transactions and aborted subtransactions, and honours truncates.
``compare`` diffs a replica snapshot against it row for row.
"""

from __future__ import annotations


def replay(txns, columns: list[str]) -> dict[str, dict[str, str]]:
    """Key → row (column → text value) after every committed change."""
    from perfbench.gen import expand

    state: dict[str, tuple] = {}
    for t in sorted(txns, key=lambda t: t.commit_lsn):
        if t.aborted:
            continue
        for ch, sub in zip(t.changes, t.subs):
            if sub is not None and sub in t.aborted_subs:
                continue
            op = ch[0]
            if op == "T":
                state.clear()
            elif op == "D":
                state.pop(ch[1], None)
            else:
                if op == "U":
                    state.pop(ch[1], None)
                state[ch[2][0]] = ch[2]
    return {k: dict(zip(columns, expand(r, len(columns))))
            for k, r in state.items()}


def compare(replica: dict[str, dict], expected: dict[str, dict]) -> dict:
    """Row-for-row diff. ``attempted`` is the number of distinct keys
    compared, ``failed`` the number whose row differs or is missing on
    either side."""
    keys = replica.keys() | expected.keys()
    missing = sum(1 for k in expected if k not in replica)
    extra = sum(1 for k in replica if k not in expected)
    differ = sum(
        1 for k in expected if k in replica and replica[k] != expected[k]
    )
    return {
        "attempted": len(keys),
        "failed": missing + extra + differ,
        "missing": missing,
        "extra": extra,
        "differ": differ,
    }
