"""Seeded input generators for the flow-engine benchmark.

Everything here is a pure function of its seed: the same seed gives
byte-identical goflow2 JSON-lines files, binary flow datagrams and
fixture tables. The expected 22-column rows are computed here from the
generator's own flow records, independently of the engine: addresses
are formatted with `ipaddress` (RFC 5952 for IPv6, IPv4-mapped IPv6
shown as a dotted quad) and every planted junk line is counted.

Only numpy, pyarrow and the standard library are used, so the
generator runs in the sender process and in tests without Spark.
"""

from __future__ import annotations

import ipaddress
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the 22 flows columns, in table order
FLOW_COLUMNS = (
    "type", "time_received", "sequence_num", "sampling_rate",
    "flow_direction", "sampler_address", "time_flow_start",
    "time_flow_end", "bytes", "packets", "src_addr", "dst_addr", "etype",
    "proto", "src_port", "dst_port", "forwarding_status", "tcp_flags",
    "icmp_type", "icmp_code", "fragment_id", "fragment_offset",
)
STRING_COLUMNS = ("sampler_address", "src_addr", "dst_addr")

#: goflow2 FlowMessage field per flows column (JSON-lines spelling)
GOFLOW2_FIELDS = (
    "Type", "TimeReceived", "SequenceNum", "SamplingRate", "FlowDirection",
    "SamplerAddress", "TimeFlowStart", "TimeFlowEnd", "Bytes", "Packets",
    "SrcAddr", "DstAddr", "Etype", "Proto", "SrcPort", "DstPort",
    "ForwardingStatus", "TCPFlags", "IcmpType", "IcmpCode", "FragmentId",
    "FragmentOffset",
)

BASE_TIME = 1_700_000_000
#: rows of one JSON-lines file share this SequenceNum stride, so a sink
#: row names its file (sequence_num // FILE_STRIDE)
FILE_STRIDE = 1_000_000
JUNK_SHARE = 0.01     # of JSON lines, planted after a random row
QUOTED_SHARE = 0.05   # of JSON rows with quoted 64-bit numbers
V6_SHARE = 0.05       # of addresses in a pool
MAPPED_SHARE = 0.01   # of addresses in a pool, IPv4-mapped IPv6
JUNK_LINES = (
    '{"Type": 2, "Bytes": ',          # truncated JSON
    "[1, 2, 3]",                      # valid JSON, not an object
    '{"Type": 2, "Bytes": "abc"}',    # present but non-numeric
    "null",
    "not json at all",
)
PROTOCOLS = ("v5", "v9", "ipfix", "sflow")
TYPE_CODE = {"sflow": 1, "v5": 2, "v9": 3, "ipfix": 4}
PEER = "127.0.0.1"


def canonical(addr: str) -> str:
    """The engine's documented address formatting: dotted quad for
    IPv4 and for IPv4-mapped IPv6, RFC 5952 for other IPv6."""
    ip = ipaddress.ip_address(addr)
    if ip.version == 6 and ip.ipv4_mapped is not None:
        return str(ip.ipv4_mapped)
    return str(ip)


def _address_pool(rng: np.random.Generator, n: int, first_octet: int,
                  v6_share: float, mapped_share: float
                  ) -> list[tuple[str, str, bool]]:
    """(input spelling, canonical form, is_v6_on_wire) per address.
    IPv6 entries use non-canonical spellings (exploded, upper case)
    now and then, so normalisation is exercised too."""
    out = []
    kinds = rng.random(n)
    octs = rng.integers(0, 256, size=(n, 3))
    words = rng.integers(0, 65536, size=(n, 6))
    for i in range(n):
        a, b, c = (int(x) for x in octs[i])
        v4 = f"{first_octet}.{a}.{b}.{c}"
        if kinds[i] < mapped_share:
            spelled = f"::ffff:{v4}"
            out.append((spelled, canonical(spelled), True))
        elif kinds[i] < mapped_share + v6_share:
            w = [int(x) for x in words[i]]
            # zero runs make RFC 5952 compression matter
            ip = ipaddress.IPv6Address(
                f"2001:db8:{w[0]:x}:0:0:{w[2]:x}:{w[3]:x}:{w[4]:x}"
                if i % 2 else f"2001:db8::{w[5]:x}:{w[1]:x}"
            )
            spelled = (ip.exploded if i % 3 == 0 else
                       str(ip).upper() if i % 3 == 1 else str(ip))
            out.append((spelled, canonical(spelled), True))
        else:
            out.append((v4, v4, False))
    return out


class FlowBatch:
    """Columnar canonical flow records (one row per flow).

    `cols` holds the expected flows-table value of every column;
    `src_in`/`dst_in`/`sampler_in` hold the address spellings written
    into the JSON input; `v6` marks rows whose addresses travel as
    IPv6 on a binary wire."""

    def __init__(self, cols: dict, src_in: list[str], dst_in: list[str],
                 sampler_in: list[str], v6: np.ndarray) -> None:
        self.cols = cols
        self.src_in = src_in
        self.dst_in = dst_in
        self.sampler_in = sampler_in
        self.v6 = v6

    def __len__(self) -> int:
        return len(self.v6)


def flows(rng: np.random.Generator, n: int, v4_only: bool = False
          ) -> FlowBatch:
    """n canonical flows with FIXTURES.md domains: zipf-skewed address
    pools, TCP-heavy protocols, well-known destination ports."""
    v6_share, mapped_share = (0.0, 0.0) if v4_only else (V6_SHARE,
                                                         MAPPED_SHARE)
    src_pool = _address_pool(rng, 1000, 10, v6_share, mapped_share)
    dst_pool = _address_pool(rng, 500, 172, v6_share, mapped_share)
    samplers = ["10.0.0.1", "10.0.0.2", "10.0.0.3", "10.0.0.4",
                "192.0.2.9", "2001:db8::a"]
    if v4_only:
        samplers = samplers[:5]
    si = np.minimum(rng.zipf(1.3, n) - 1, len(src_pool) - 1)
    di = np.minimum(rng.zipf(1.5, n) - 1, len(dst_pool) - 1)
    # a flow is v6 on the wire when either end is: pair like with like
    # by moving a mismatched destination to the next pool entry of the
    # source's family
    src_v6 = np.array([src_pool[i][2] for i in si])
    dst_fam = np.array([d[2] for d in dst_pool])
    nxt = {}
    for fam in (False, True):
        idx = np.flatnonzero(dst_fam == fam)
        if len(idx):
            pos = np.searchsorted(idx, np.arange(len(dst_pool)))
            nxt[fam] = idx[pos % len(idx)]
    if len(nxt) == 2:
        di = np.where(dst_fam[di] == src_v6, di,
                      np.where(src_v6, nxt[True][di], nxt[False][di]))
    dst_pick = [dst_pool[j] for j in di]
    samp = rng.integers(0, len(samplers), n)
    sampler_canon = [canonical(a) for a in samplers]
    r = rng.random(n)
    proto = np.where(r < 0.6, 6, np.where(r < 0.9, 17, 1)).astype(np.int64)
    proto = np.where((proto == 1) & src_v6, 58, proto)
    icmp = (proto == 1) | (proto == 58)
    well_known = np.array([53, 80, 123, 443, 8080])
    dst_port = np.where(rng.random(n) < 0.8,
                        well_known[rng.integers(0, 5, n)],
                        rng.integers(1, 65536, n))
    src_port = rng.integers(1024, 65536, n)
    flags = rng.integers(1, 64, n)
    flags[rng.random(n) < 0.02] = 63  # every flag bit set
    nbytes = np.exp(rng.uniform(np.log(40), np.log(1e9), n)).astype(np.int64)
    nbytes[rng.random(n) < 0.002] = 2**32 - 1  # max uint32
    packets = 1 + (rng.random(n) * (nbytes // 40)).astype(np.int64)
    t_recv = BASE_TIME + rng.integers(0, 3600, n)
    t_end = t_recv - rng.integers(0, 60, n)
    t_start = t_end - rng.integers(0, 300, n)
    frag = rng.random(n) < 0.05
    cols = {
        "type": np.full(n, 2, np.int64),
        "time_received": t_recv,
        "sequence_num": np.arange(n, dtype=np.int64),
        "sampling_rate": np.array([1, 100, 1000, 10000])[rng.integers(0, 4, n)],
        "flow_direction": rng.integers(0, 2, n),
        "sampler_address": [sampler_canon[i] for i in samp],
        "time_flow_start": t_start,
        "time_flow_end": t_end,
        "bytes": nbytes,
        "packets": packets,
        "src_addr": [src_pool[i][1] for i in si],
        "dst_addr": [d[1] for d in dst_pick],
        "etype": np.where(src_v6, 0x86DD, 0x0800).astype(np.int64),
        "proto": proto,
        "src_port": np.where(icmp, 0, src_port),
        "dst_port": np.where(icmp, 0, dst_port),
        "forwarding_status": np.where(rng.random(n) < 0.05, 128, 64),
        "tcp_flags": np.where(proto == 6, flags, 0),
        "icmp_type": np.where(icmp, np.array([0, 3, 8, 11])[rng.integers(0, 4, n)], 0),
        "icmp_code": np.where(icmp, rng.integers(0, 4, n), 0),
        "fragment_id": np.where(frag, rng.integers(1, 65536, n), 0),
        "fragment_offset": np.where(frag, rng.integers(0, 8192, n), 0),
    }
    for k, v in cols.items():
        if isinstance(v, np.ndarray):
            cols[k] = v.astype(np.int64)
    return FlowBatch(
        cols,
        [src_pool[i][0] for i in si],
        [d[0] for d in dst_pick],
        [samplers[i] for i in samp],
        src_v6,
    )


# ---------------------------------------------------------------- JSON lines

_PLAIN = "{" + ",".join(
    f'"{f}":"%s"' if c in STRING_COLUMNS else f'"{f}":%d'
    for f, c in zip(GOFLOW2_FIELDS, FLOW_COLUMNS)
) + "}"
# protobuf-JSON marshallers quote 64-bit integers: Bytes, Packets and
# SequenceNum arrive as strings on some lines
_QUOTED = _PLAIN.replace('"Bytes":%d', '"Bytes":"%d"').replace(
    '"Packets":%d', '"Packets":"%d"').replace(
    '"SequenceNum":%d', '"SequenceNum":"%d"')


def write_jsonl(out_dir: str, seed: int, n_files: int, rows_per_file: int
                ) -> tuple[dict, list[int]]:
    """goflow2 `-transport file` replay: n_files JSON-lines files.
    Row k of file f carries SequenceNum f*FILE_STRIDE + k. Returns the
    expected flows columns (over all files, file order) and the
    planted junk-line count of every file."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    fb = flows(rng, n_files * rows_per_file)
    seq = np.concatenate([
        f * FILE_STRIDE + np.arange(rows_per_file, dtype=np.int64)
        for f in range(n_files)
    ])
    fb.cols["sequence_num"] = seq
    fb.cols["type"] = rng.integers(1, 5, len(fb)).astype(np.int64)
    quoted = rng.random(len(fb)) < QUOTED_SHARE
    junk_at = rng.random(len(fb)) < JUNK_SHARE
    junk_kind = rng.integers(0, len(JUNK_LINES), len(fb))
    src_i = FLOW_COLUMNS.index("src_addr")
    dst_i = FLOW_COLUMNS.index("dst_addr")
    samp_i = FLOW_COLUMNS.index("sampler_address")
    cols = [fb.cols[c].tolist() if c not in STRING_COLUMNS else None
            for c in FLOW_COLUMNS]
    cols[samp_i], cols[src_i], cols[dst_i] = (fb.sampler_in, fb.src_in,
                                              fb.dst_in)
    records = list(zip(*cols))
    junk_counts = []
    for f in range(n_files):
        lines = []
        junk = 0
        for k in range(f * rows_per_file, (f + 1) * rows_per_file):
            lines.append((_QUOTED if quoted[k] else _PLAIN) % records[k])
            if junk_at[k]:
                lines.append(JUNK_LINES[junk_kind[k]])
                junk += 1
        junk_counts.append(junk)
        path = os.path.join(out_dir, f"flows-{f:05d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        # the file source orders by modification time: pin it to the
        # file index so batches take files in sequence
        os.utime(path, (BASE_TIME + f, BASE_TIME + f))
    return fb.cols, junk_counts


# ------------------------------------------------------------ binary datagrams

def _ip_bytes(addr: str) -> bytes:
    return ipaddress.ip_address(addr).packed


def _v6_wire(addr: str) -> bytes:
    """16-byte wire form; IPv4 canonical strings that came from mapped
    spellings are sent as ::ffff:a.b.c.d."""
    ip = ipaddress.ip_address(addr)
    if ip.version == 4:
        return ipaddress.IPv6Address(f"::ffff:{addr}").packed
    return ip.packed


def _encode_v5(fb: FlowBatch, rows: range, seq: int, unix_secs: int) -> bytes:
    uptime = 1_000_000_000
    c = fb.cols
    hdr = struct.pack(">HHIIIIBBH", 5, len(rows), uptime, unix_secs, 0, seq,
                      0, 0, (1 << 14) | int(c["sampling_rate"][rows[0]]))
    recs = []
    for k in rows:
        proto = int(c["proto"][k])
        dport = ((int(c["icmp_type"][k]) << 8) | int(c["icmp_code"][k])
                 if proto == 1 else int(c["dst_port"][k]))
        first = uptime - (unix_secs - int(c["time_flow_start"][k])) * 1000
        last = uptime - (unix_secs - int(c["time_flow_end"][k])) * 1000
        recs.append(struct.pack(
            ">4s4s4sHHIIIIHHBBBBHHBBH",
            _ip_bytes(c["src_addr"][k]), _ip_bytes(c["dst_addr"][k]),
            b"\0\0\0\0", 0, 0, int(c["packets"][k]), int(c["bytes"][k]),
            first, last, int(c["src_port"][k]), dport, 0,
            int(c["tcp_flags"][k]), proto, 0, 0, 0, 0, 0, 0))
    return hdr + b"".join(recs)


# (IE, length) per template; v4 and v6 differ only in the addresses
_TEMPLATE_TAIL = [(1, 8), (2, 8), (4, 1), (7, 2), (11, 2), (6, 1), (34, 4),
                  (61, 1), (89, 1), (32, 2), (54, 4), (88, 2)]
_V9_TIMES = [(22, 4), (21, 4)]
_IPFIX_TIMES = [(150, 4), (151, 4)]


def _template_fields(v6: bool, times: list) -> list[tuple[int, int]]:
    addr = [(27, 16), (28, 16)] if v6 else [(8, 4), (12, 4)]
    return addr + _TEMPLATE_TAIL + times


def _record(fb: FlowBatch, k: int, v6: bool, time_vals: tuple) -> bytes:
    c = fb.cols
    src = _v6_wire(c["src_addr"][k]) if v6 else _ip_bytes(c["src_addr"][k])
    dst = _v6_wire(c["dst_addr"][k]) if v6 else _ip_bytes(c["dst_addr"][k])
    icmp = (int(c["icmp_type"][k]) << 8) | int(c["icmp_code"][k])
    return src + dst + struct.pack(
        ">QQBHHBIBBHIH", int(c["bytes"][k]), int(c["packets"][k]),
        int(c["proto"][k]), int(c["src_port"][k]), int(c["dst_port"][k]),
        int(c["tcp_flags"][k]), int(c["sampling_rate"][k]),
        int(c["flow_direction"][k]), int(c["forwarding_status"][k]), icmp,
        int(c["fragment_id"][k]), int(c["fragment_offset"][k]),
    ) + struct.pack(">II", *time_vals)


def _sets(fb: FlowBatch, rows: range, times: list, time_of, tmpl_set: int
          ) -> bytes:
    """Template set (both families) + one data set per family present."""
    tmpl = b""
    for tid, v6 in ((256, False), (257, True)):
        fields = _template_fields(v6, times)
        tmpl += struct.pack(">HH", tid, len(fields)) + b"".join(
            struct.pack(">HH", ie, ln) for ie, ln in fields)
    out = struct.pack(">HH", tmpl_set, 4 + len(tmpl)) + tmpl
    for tid, v6 in ((256, False), (257, True)):
        body = b"".join(_record(fb, k, v6, time_of(k))
                        for k in rows if bool(fb.v6[k]) == v6)
        if body:
            out += struct.pack(">HH", tid, 4 + len(body)) + body
    return out


def _encode_v9(fb: FlowBatch, rows: range, seq: int, unix_secs: int) -> bytes:
    uptime = 1_000_000_000
    c = fb.cols

    def times(k):
        return (uptime - (unix_secs - int(c["time_flow_start"][k])) * 1000,
                uptime - (unix_secs - int(c["time_flow_end"][k])) * 1000)

    body = _sets(fb, rows, _V9_TIMES, times, 0)
    return struct.pack(">HHIIII", 9, len(rows) + 2, uptime, unix_secs, seq,
                       7) + body


def _encode_ipfix(fb: FlowBatch, rows: range, seq: int, unix_secs: int
                  ) -> bytes:
    c = fb.cols

    def times(k):
        return int(c["time_flow_start"][k]), int(c["time_flow_end"][k])

    body = _sets(fb, rows, _IPFIX_TIMES, times, 2)
    return struct.pack(">HHIII", 10, 16 + len(body), unix_secs, seq, 7) + body


def _frame(fb: FlowBatch, k: int) -> bytes:
    """Ethernet + IPv4/IPv6 + TCP/UDP/ICMP header of one sampled packet."""
    c = fb.cols
    v6 = bool(fb.v6[k])
    proto = int(c["proto"][k])
    if proto in (6, 17):
        l4 = struct.pack(">HH", int(c["src_port"][k]), int(c["dst_port"][k]))
        if proto == 6:
            l4 += b"\0" * 9 + bytes([int(c["tcp_flags"][k])]) + b"\0" * 6
        else:
            l4 += b"\0" * 4
    else:
        l4 = bytes([int(c["icmp_type"][k]), int(c["icmp_code"][k])]) + b"\0" * 6
    if v6:
        ip = (b"\x60\0\0\0" + struct.pack(">HBB", len(l4), proto, 64)
              + _v6_wire(c["src_addr"][k]) + _v6_wire(c["dst_addr"][k]))
        etype = 0x86DD
    else:
        ip = struct.pack(">BBHHHBBH4s4s", 0x45, 0, 20 + len(l4),
                         int(c["fragment_id"][k]),
                         int(c["fragment_offset"][k]), 64, proto, 0,
                         _ip_bytes(c["src_addr"][k]),
                         _ip_bytes(c["dst_addr"][k]))
        etype = 0x0800
    return b"\x02" * 6 + b"\x04" * 6 + struct.pack(">H", etype) + ip + l4


def _encode_sflow(fb: FlowBatch, rows: range, seq: int, agent: str) -> bytes:
    c = fb.cols
    a = ipaddress.ip_address(agent)
    head = struct.pack(">II", 5, 1 if a.version == 4 else 2) + a.packed
    head += struct.pack(">IIII", 0, seq, 1000, len(rows))
    samples = []
    for n, k in enumerate(rows):
        hdr = _frame(fb, k)
        pad = (-len(hdr)) % 4
        rec = struct.pack(">IIII", 1, int(c["bytes"][k]), 4, len(hdr)) + hdr + b"\0" * pad
        body = struct.pack(">IIIIIIII", n, 3, int(c["sampling_rate"][k]),
                           1000, 0, 1, 2, 1)
        body += struct.pack(">II", 1, len(rec)) + rec
        samples.append(struct.pack(">II", 1, len(body)) + body)
    return head + b"".join(samples)


def udp_datagrams(seed: int, n_dgrams: int, rows_per_dgram: int,
                  seq_start: int = 0, distinct: int = 400
                  ) -> tuple[list[bytes], list[str], dict]:
    """A seeded mix of NetFlow v5, v9, IPFIX and sFlow v5 datagrams.

    Datagram i carries header sequence number seq_start + i, so every
    decoded row names the datagram it came from (and the sender's due
    time of that datagram). `distinct` datagrams are encoded and then
    replayed with fresh sequence numbers. v9 and IPFIX datagrams carry
    their templates with the data, as exporters do. Returns the
    payloads, their protocols and the expected flows rows (row order =
    datagram order). sFlow has no clock on the wire: its three time
    columns are the collector's receive time, so they are expected as
    -1 and checked against the send window instead."""
    rng = np.random.default_rng([seed, 2, seq_start])
    n_pool = min(distinct, n_dgrams)
    kinds = [PROTOCOLS[i] for i in rng.integers(0, len(PROTOCOLS), n_pool)]
    n = n_pool * rows_per_dgram
    fb = flows(rng, n)
    v4 = flows(rng, n, v4_only=True)  # NetFlow v5 carries IPv4 only
    # sFlow reports the sampled frame: 1 packet of at most 1500 bytes
    frame_len = rng.integers(64, 1501, n).astype(np.int64)
    pool, seq_at = [], []
    rows_of = []
    for i, kind in enumerate(kinds):
        rows = range(i * rows_per_dgram, (i + 1) * rows_per_dgram)
        src = v4 if kind == "v5" else fb
        c = src.cols
        unix_secs = BASE_TIME + 3600 + i // 100
        if kind == "v5":
            # v5 carries one sampling interval per datagram
            for k in rows:
                c["sampling_rate"][k] = c["sampling_rate"][rows[0]]
            pool.append(_encode_v5(src, rows, 0, unix_secs))
            seq_at.append(16)
        elif kind == "v9":
            pool.append(_encode_v9(src, rows, 0, unix_secs))
            seq_at.append(12)
        elif kind == "ipfix":
            pool.append(_encode_ipfix(src, rows, 0, unix_secs))
            seq_at.append(8)
        else:
            for k in rows:
                c["bytes"][k] = frame_len[k]
            agent = src.sampler_in[rows[0]]
            pool.append(_encode_sflow(src, rows, 0, agent))
            seq_at.append(12 + len(ipaddress.ip_address(agent).packed))
        # v9 / IPFIX data sets are grouped by family: v4 records first
        order = (sorted(rows, key=lambda k: bool(src.v6[k]))
                 if kind in ("v9", "ipfix") else list(rows))
        one = {col: [] for col in FLOW_COLUMNS}
        for k in order:
            _expected_row(one, src, k, kind, 0, unix_secs, rows[0])
        rows_of.append(one)
    payloads, out_kinds = [], []
    out = {c: [] for c in FLOW_COLUMNS}
    for i in range(n_dgrams):
        j = i % n_pool
        seq = seq_start + i
        p = pool[j]
        payloads.append(p[:seq_at[j]] + struct.pack(">I", seq)
                        + p[seq_at[j] + 4:])
        out_kinds.append(kinds[j])
        for col in FLOW_COLUMNS:
            out[col].extend(rows_of[j][col])
    out["sequence_num"] = np.repeat(
        np.arange(seq_start, seq_start + n_dgrams, dtype=np.int64),
        rows_per_dgram)
    return payloads, out_kinds, {
        k: np.asarray(v, dtype=object if k in STRING_COLUMNS else np.int64)
        for k, v in out.items()}


def _expected_row(out: dict, fb: FlowBatch, k: int, kind: str, seq: int,
                  unix_secs: int, first_row: int) -> None:
    """The flows row the engine must produce for flow k sent as `kind`
    (field coverage of each wire format per its decoder contract)."""
    c = fb.cols
    v6 = bool(fb.v6[k])
    sflow = kind == "sflow"
    proto = int(c["proto"][k])
    vals = {
        "type": TYPE_CODE[kind],
        "time_received": -1 if sflow else unix_secs,
        "sequence_num": seq,
        "sampling_rate": int(c["sampling_rate"][k]),
        "flow_direction": int(c["flow_direction"][k]) if kind in ("v9", "ipfix") else 0,
        "sampler_address": (canonical(fb.sampler_in[first_row]) if sflow
                            else PEER),
        "time_flow_start": -1 if sflow else int(c["time_flow_start"][k]),
        "time_flow_end": -1 if sflow else int(c["time_flow_end"][k]),
        "bytes": int(c["bytes"][k]),
        "packets": 1 if sflow else int(c["packets"][k]),
        "src_addr": c["src_addr"][k],
        "dst_addr": c["dst_addr"][k],
        "etype": 0x86DD if (v6 and kind != "v5") else 0x0800,
        "proto": proto,
        "src_port": int(c["src_port"][k]),
        "dst_port": int(c["dst_port"][k]),
        "forwarding_status": (int(c["forwarding_status"][k])
                              if kind in ("v9", "ipfix") else 0),
        "tcp_flags": int(c["tcp_flags"][k]),
        "icmp_type": int(c["icmp_type"][k]),
        "icmp_code": int(c["icmp_code"][k]),
        "fragment_id": 0 if kind == "v5" or (sflow and v6) else int(c["fragment_id"][k]),
        "fragment_offset": (0 if kind == "v5" or (sflow and v6)
                            else int(c["fragment_offset"][k])),
    }
    for col in FLOW_COLUMNS:
        out[col].append(vals[col])


def write_datagrams(path: str, payloads: list[bytes]) -> None:
    """Length-prefixed datagram file the sender process replays."""
    with open(path, "wb") as fh:
        for p in payloads:
            fh.write(struct.pack(">I", len(p)) + p)


def read_datagrams(path: str) -> list[bytes]:
    with open(path, "rb") as fh:
        data = fh.read()
    out, off = [], 0
    while off < len(data):
        (ln,) = struct.unpack_from(">I", data, off)
        out.append(data[off + 4:off + 4 + ln])
        off += 4 + ln
    return out


# ------------------------------------------------------------- fixture tables

_VOCAB = (
    "spark line column order small sort fast value scan hash slow group "
    "batch agg filter query big key window row part table stream merge "
    "data join vector customer the a le la el der und"
).split()


def write_tables(out_dir: str, seed: int, sf: float,
                 corpus_sf: float | None = None) -> None:
    """TPC-H-shaped star schema plus events, documents and embeddings
    with the schemas and value domains of the engine's fixtures, at
    scale factor `sf` (lineitem = 6M * sf rows); documents and
    embeddings at `corpus_sf` (default: sf)."""
    corpus_sf = sf if corpus_sf is None else corpus_sf
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])

    def save(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def day(n, lo="1995-01-01", span=2405):
        base = np.datetime64(lo, "us")
        return base + rng.integers(0, span, n).astype("timedelta64[D]")

    def money(n, lo, hi):
        return np.round(rng.uniform(lo, hi, n), 2)

    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    save("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    save("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    save("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(n_cust, -999.99, 9999.99),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    save("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(n_supp, -999.99, 9999.99),
    })
    adj = np.array(["large", "hot", "blue", "small", "red", "green", "dark",
                    "light"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "screw",
                     "spring"])
    types = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM",
                      "PROMO"])
    save("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    save("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(n_ord, 1000, 500_000),
        "o_orderdate": day(n_ord),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)],
    })
    lines_per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines_per)
    n_li = len(okey)
    starts = np.cumsum(lines_per) - lines_per
    lnum = np.arange(n_li) - np.repeat(starts, lines_per) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    perm = rng.permutation(n_li)
    save("lineitem", {
        "l_orderkey": pa.array(okey[perm], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum[perm], pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": day(n_li, "1995-01-02", 2499),
    })
    n_ev = int(1_000_000 * sf)
    ts = np.sort(np.datetime64("2024-01-01", "ns")
                 + rng.integers(0, 30 * 86400 * 10**9, n_ev).astype("timedelta64[ns]"))
    save("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev),
                            pa.int64()),
        "event_type": np.array(["view", "click", "purchase", "signup",
                                "error"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(40, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_doc = int(50_000 * corpus_sf)
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), nw)])
             for nw in rng.integers(10, 101, n_doc)]
    # near-duplicates: a share of documents repeat an earlier one with
    # one word changed, so the dedup operators have work to find
    for i in range(1, n_doc, 7):
        words = texts[int(rng.integers(0, i))].split()
        words[int(rng.integers(0, len(words)))] = str(vocab[int(rng.integers(0, len(vocab)))])
        texts[i] = " ".join(words)
    save("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "zh", "es", "fr", "de"])[
            rng.integers(0, 6, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n_emb = int(20_000 * corpus_sf)
    vecs = (rng.standard_normal((n_emb, 64)) * 0.12).astype(np.float32)
    save("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
