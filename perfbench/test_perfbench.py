"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from spans import Span, _covered, self_times, totals  # noqa: E402


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for dp, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(dp, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for name in ("a", "b"):
        gen.write_jsonl(str(tmp_path / name / "jsonl"), 11, 3, 400)
        gen.write_datagrams(str(tmp_path / name / "dgrams.bin"),
                            gen.udp_datagrams(11, 50, 20, 0, distinct=20)[0])
        gen.write_tables(str(tmp_path / name / "sf"), 11, 0.001)
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    gen.write_jsonl(str(tmp_path / "c" / "jsonl"), 12, 3, 400)
    assert (_tree_digest(str(tmp_path / "a" / "jsonl"))
            != _tree_digest(str(tmp_path / "c" / "jsonl")))


def test_jsonl_expected_rows_and_junk(tmp_path):
    cols, junk = gen.write_jsonl(str(tmp_path), 5, 2, 1000)
    assert len(cols["sequence_num"]) == 2000
    lines = 0
    for f in range(2):
        with open(tmp_path / f"flows-{f:05d}.json") as fh:
            lines += sum(1 for _ in fh)
    assert lines == 2000 + sum(junk)
    assert 0 < sum(junk) < 100
    # every expected address is canonical: IPv4-mapped shows dotted
    for a in cols["src_addr"]:
        assert not a.startswith("::ffff:")
        assert a == gen.canonical(a)


def test_canonical_formatting():
    assert gen.canonical("::ffff:10.1.2.3") == "10.1.2.3"
    assert gen.canonical("2001:0DB8:0000:0000:0000:0000:0000:0001") == "2001:db8::1"
    assert gen.canonical("10.0.0.1") == "10.0.0.1"


def test_datagram_sequence_numbers_and_protocol_mix():
    payloads, kinds, exp = gen.udp_datagrams(3, 200, 10, 1000, distinct=40)
    assert len(payloads) == 200 and set(kinds) == set(gen.PROTOCOLS)
    assert list(np.unique(exp["sequence_num"])) == list(range(1000, 1200))
    assert len(exp["type"]) == 2000


def _span(i, s, e, parent=None):
    return Span(i, f"s{i}", s, e, parent, "r")


def test_covered_merges_overlaps():
    assert _covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert _covered([]) == 0


def test_self_time_arithmetic():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, 0),
        _span(2, 3.0, 5.0, 0),     # overlaps child 1: union 1..5 = 4
        _span(3, 9.0, 12.0, 0),    # sticks out: clipped to 9..10 = 1
        _span(4, 1.5, 2.0, 1),
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - 5.0
    assert st[1] == 3.0 - 0.5
    assert st[2] == 2.0 and st[4] == 0.5
    assert totals(spans)["s0"] == 10.0
    assert totals(spans, self_time=True)["s1"] == 2.5
