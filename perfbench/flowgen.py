"""Seeded NetObserv flow-message generator (FIXTURES.md section 1).

Every message is one JSON line, the value a Kafka record would carry on the
``flows-export`` topic. The mix covers the required edge cases:

- fully populated rows (the happy path);
- "Node flow" rows with every K8S field missing;
- rows with Bytes and Packets missing;
- rows carrying extra fields, both ones the input schema knows and ones it
  does not (an array and an unknown string);
- about 1% malformed messages, which the pipeline must drop.

Alongside the lines the generator returns the exact aggregates the sink must
end up holding, computed from the generating arrays rather than by parsing
the lines, so the read-back check is independent of the decode under test.

The traffic shape is an assumption, not a measurement: no captured NetObserv
topic sample is available. Only the ~1% malformed share is specified; the
other shares are chosen so that every edge-case kind appears thousands of
times in a backlog while fully populated pod-to-service flows stay the
majority, and hosts are drawn uniformly from 4096 ids. Decode/normalize cost
per row depends on the message shape, so the ingest figures hold for this
mix only.
"""

from __future__ import annotations

import os
import zlib

import numpy as np

KINDS = ("full", "no_k8s", "no_counters", "extras", "malformed")
# Probabilities of each message kind, in KINDS order (assumed, see above).
KIND_P = (0.74, 0.10, 0.05, 0.10, 0.01)
# Flow time of the first message of a backlog; the read-back check sums
# times relative to it, so the sums stay exact in double precision.
T0_MS = 1_700_000_000_000

_MALFORMED = (
    '{"TimeFlowStartMs": 1700000000000, "SrcAddr": "10.0.0.1", ',
    "not json at all",
    '{"Bytes": 12, "Packets": }',
    '["TimeFlowStartMs", 1]',
    '{"TimeFlowStartMs": "soon", "Bytes": 3}',
)
_TYPES = ("Pod", "Service", "Node")


# Column values by id: hosts in [0, 4096), destination services in [0, 64),
# namespace pairs in [0, 144).
_IP = [f"10.{h >> 6}.{h & 63}.{h % 250 + 1}" for h in range(4096)]
_SRC_NAME = [f"pod-{h >> 6}-{h & 63}" for h in range(4096)]
_SRC_KIND = [_TYPES[h % 2] for h in range(4096)]
_DST_NAME = [f"svc-{h}" for h in range(64)]
_DST_KIND = [_TYPES[1 + h % 2] for h in range(64)]
_SRC_NS = [f"ns-{c // 12}" for c in range(144)]
_DST_NS = [f"ns-{c % 12}" for c in range(144)]
_CRC = {
    col: np.array([zlib.crc32(v.encode()) for v in values], dtype=np.int64)
    for col, values in (
        ("src_ip", _IP), ("dst_ip", _IP), ("src_name", _SRC_NAME), ("src_kind", _SRC_KIND),
        ("dst_name", _DST_NAME), ("dst_kind", _DST_KIND),
        ("src_namespace", _SRC_NS), ("dst_namespace", _DST_NS),
    )
}

# JSON fragments by id, precomputed so the per-message work is one string
# concatenation.
_ADDR = [(f'"SrcAddr":"{ip}"', f'"DstAddr":"{ip}"') for ip in _IP]
_K8S_SRC = [f'"SrcK8S_Name":"{n}","SrcK8S_Type":"{k}"' for n, k in zip(_SRC_NAME, _SRC_KIND)]
_K8S_DST = [f'"DstK8S_Name":"{n}","DstK8S_Type":"{k}"' for n, k in zip(_DST_NAME, _DST_KIND)]
_NS = [f'"SrcK8S_Namespace":"{s}","DstK8S_Namespace":"{d}"' for s, d in zip(_SRC_NS, _DST_NS)]
_EXTRAS = [
    f'"DstPort":443,"Proto":6,"FlowDirection":1,"SrcK8S_OwnerName":"deploy-{h}",'
    '"AgentIP":"10.9.9.9","IfDirections":[0,1]'
    for h in range(64)
]


def flow_lines(
    rng: np.random.Generator, n: int, start_ms: np.ndarray
) -> tuple[list[str], dict]:
    """``n`` messages whose TimeFlowStartMs is ``start_ms`` (integral ms).

    Returns the lines and the aggregates the 12-column flows relation must
    have after decode/normalize: row count, dropped count, sums of the
    numeric columns (times relative to T0_MS) and a checksum per string
    column.
    """
    kind = rng.choice(len(KINDS), size=n, p=KIND_P)
    dur = rng.integers(1, 5000, size=n)
    src = rng.integers(0, 64 * 64, size=n)
    dst = rng.integers(0, 64 * 64, size=n)
    nbytes = rng.integers(40, 1_500_000, size=n)
    npackets = rng.integers(1, 1200, size=n)
    ns = rng.integers(0, 12 * 12, size=n)
    ports = rng.integers(1024, 65535, size=n)
    lines = []
    for i, (k, s, d, a, b, c, p, q, port) in enumerate(
        zip(
            kind.tolist(), start_ms.tolist(), dur.tolist(), src.tolist(), dst.tolist(),
            ns.tolist(), nbytes.tolist(), npackets.tolist(), ports.tolist(),
        )
    ):
        if k == 4:
            lines.append(_MALFORMED[i % len(_MALFORMED)])
            continue
        row = f'{{"TimeFlowStartMs":{s},"TimeFlowEndMs":{s + d},{_ADDR[a][0]},{_ADDR[b][1]}'
        if k != 1:
            row += f",{_K8S_SRC[a]},{_K8S_DST[b >> 6]},{_NS[c]}"
        if k != 2:
            row += f',"Bytes":{p},"Packets":{q}'
        if k == 3:
            row += f',"SrcPort":{port},{_EXTRAS[a >> 6]}'
        lines.append(row + "}")
    ok = kind != 4
    has_counters = ok & (kind != 2)
    has_k8s = ok & (kind != 1)
    expect = {
        "rows": int(ok.sum()),
        "dropped": int((~ok).sum()),
        "sum_bytes": int(nbytes[has_counters].sum()),
        "sum_packets": int(npackets[has_counters].sum()),
        "sum_start_off": int((start_ms[ok] - T0_MS).sum()),
        "sum_end_off": int((start_ms[ok] + dur[ok] - T0_MS).sum()),
        "no_k8s": int((kind == 1).sum()),
    }
    # One checksum per string column: the sum of CRC-32 over the rows (an
    # empty string, the default of a missing field, adds 0).
    for col, idx, rows in (
        ("src_ip", src, ok), ("dst_ip", dst, ok),
        ("src_name", src, has_k8s), ("src_kind", src, has_k8s),
        ("dst_name", dst >> 6, has_k8s), ("dst_kind", dst >> 6, has_k8s),
        ("src_namespace", ns, has_k8s), ("dst_namespace", ns, has_k8s),
    ):
        expect[f"crc_{col}"] = int(_CRC[col][idx[rows]].sum())
    return lines, expect


def merge_expect(parts: list[dict]) -> dict:
    """Sum per-file expectations into one for the whole input."""
    return {k: sum(p[k] for p in parts) for k in parts[0]} if parts else {}


def write_file(path: str, lines: list[str]) -> None:
    """Write atomically: a dot-named temp file is invisible to the file
    source's listing until the rename publishes the finished file."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, f".{base}.tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    os.replace(tmp, path)


def write_backlog(directory: str, seed: int, n_files: int, lines_per_file: int) -> dict:
    """A pre-written backlog: ``n_files`` files of ``lines_per_file``
    messages, spaced 1 ms apart in flow time. Returns the expectation."""
    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng(seed)
    parts = []
    for f in range(n_files):
        base = T0_MS + f * lines_per_file
        start = np.arange(base, base + lines_per_file, dtype=np.int64)
        lines, exp = flow_lines(rng, lines_per_file, start)
        write_file(os.path.join(directory, f"part-{f:05d}.json"), lines)
        parts.append(exp)
    return merge_expect(parts)
