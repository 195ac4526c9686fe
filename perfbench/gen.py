"""Seeded input generators for the benchmark.

Every input is built with numpy and pyarrow from the run's seed, never
through the program under test: the same seed gives the same bytes, and
a change to the program's writers cannot change what the benchmark
reads.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

# Where each parameter comes from (see README.md, "Input parameters"):
# the slice set, the per-slice capture directories and the 1 s windows
# are the reference pipeline's; the events and TPC-H laws follow the
# repo's test data at sf0.1.  The reference publishes no capture, so the
# traffic mix below (slice shares, flow counts, the Zipf exponent, the
# packet-size laws, the protocol/flag/window mixes) is an assumption,
# chosen only to give each slice a different shape.

# capture directory -> (slice label, share of packets, number of flows)
SLICES = {
    "embb": ("eMBB", 0.60, 400),
    "urllc": ("URLLC", 0.25, 300),
    "mmtc": ("mMTC", 0.15, 600),
}
CAPLEN = 64  # snap length: Ethernet + IPv4 + TCP header + padding
T0 = 1_700_000_000  # capture epoch (seconds)


def _packet_sizes(rng: np.random.Generator, slice_key: str, n: int) -> np.ndarray:
    """Original (on-wire) lengths; each slice has its own law."""
    if slice_key == "embb":  # bulk video: mostly near-MTU frames
        sizes = np.where(
            rng.random(n) < 0.8,
            rng.integers(1200, 1515, n),
            rng.integers(64, 400, n),
        )
    elif slice_key == "urllc":  # control traffic: small, tight
        sizes = rng.normal(180, 40, n).round()
    else:  # sensors: tiny, a few sizes only
        sizes = rng.choice([64, 72, 80, 96, 128], n, p=[0.4, 0.25, 0.15, 0.1, 0.1])
    return np.clip(sizes, CAPLEN, 1514).astype(np.int64)


def gen_capture(
    seed: int, n_packets: int, seconds: int, t_start: int = T0, flow_seed: int | None = None
) -> dict[str, dict[str, np.ndarray]]:
    """Packets per slice as column arrays, sorted by capture time.

    Flows are Zipf-skewed (a few heavy flows carry most packets),
    protocols mix TCP/UDP/ICMP per slice, and timestamps spread over
    ``seconds`` whole seconds starting at ``t_start``.  ``flow_seed``
    fixes the flow population apart from the packets, so successive
    capture rounds continue the same flows.
    """
    rng = np.random.default_rng(seed)
    flow_rng = np.random.default_rng(seed if flow_seed is None else flow_seed)
    out = {}
    for key, (_label, share, n_flows) in SLICES.items():
        n = max(1, int(n_packets * share))
        # per-flow endpoints and protocol, fixed for the flow's life
        f_src = flow_rng.integers(0x0A000001, 0x0AFFFFFE, n_flows, dtype=np.int64)
        f_dst = flow_rng.integers(0xC0A80001, 0xC0A8FFFE, n_flows, dtype=np.int64)
        f_sport = flow_rng.integers(1024, 65535, n_flows)
        f_dport = flow_rng.choice([80, 443, 5683, 1883, 8080, 5060], n_flows)
        f_proto = flow_rng.choice([6, 17, 1], n_flows, p=[0.6, 0.35, 0.05])
        ranks = np.arange(1, n_flows + 1, dtype=np.float64)
        weights = ranks**-1.1
        flow = rng.choice(n_flows, n, p=weights / weights.sum())
        sec = t_start + rng.integers(0, seconds, n)
        # usec < 999000 keeps sec + usec/1e6 clear of the next second
        usec = rng.integers(0, 999_000, n)
        order = np.lexsort((usec, sec))
        flow, sec, usec = flow[order], sec[order], usec[order]
        out[key] = {
            "sec": sec,
            "usec": usec,
            "orig_len": _packet_sizes(rng, key, n),
            "src": f_src[flow],
            "dst": f_dst[flow],
            "sport": f_sport[flow],
            "dport": f_dport[flow],
            "proto": f_proto[flow],
            "flags": rng.choice([0x02, 0x10, 0x18, 0x04, 0x11], n, p=[0.1, 0.6, 0.2, 0.05, 0.05]),
            "win": rng.choice([0, 1024, 8192, 29200, 65535], n, p=[0.05, 0.15, 0.3, 0.3, 0.2]),
            "seq": rng.integers(0, 2**32, n, dtype=np.int64),
        }
    return out


def pcap_bytes(cols: dict[str, np.ndarray]) -> bytes:
    """Classic little-endian pcap (Ethernet link type), CAPLEN-byte snaps."""
    n = len(cols["sec"])
    rec = np.zeros((n, 16 + CAPLEN), dtype=np.uint8)
    hdr = rec[:, :16].view("<u4")
    hdr[:, 0] = cols["sec"]
    hdr[:, 1] = cols["usec"]
    hdr[:, 2] = CAPLEN
    hdr[:, 3] = cols["orig_len"]
    pkt = rec[:, 16:]
    pkt[:, 12], pkt[:, 13] = 0x08, 0x00  # IPv4 ethertype
    ip = pkt[:, 14:34]
    ip[:, 0] = 0x45
    ip_len = np.minimum(cols["orig_len"] - 14, 65535)
    ip[:, 2], ip[:, 3] = ip_len >> 8, ip_len & 0xFF
    ip[:, 8] = 64
    ip[:, 9] = cols["proto"]
    for i, col in ((12, "src"), (16, "dst")):
        v = cols[col]
        ip[:, i], ip[:, i + 1], ip[:, i + 2], ip[:, i + 3] = (
            (v >> 24) & 0xFF, (v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF,
        )
    l4 = pkt[:, 34:54]
    l4[:, 0], l4[:, 1] = cols["sport"] >> 8, cols["sport"] & 0xFF
    l4[:, 2], l4[:, 3] = cols["dport"] >> 8, cols["dport"] & 0xFF
    tcp = cols["proto"] == 6
    seq = cols["seq"]
    for i, shift in ((4, 24), (5, 16), (6, 8), (7, 0)):
        l4[:, i] = np.where(tcp, (seq >> shift) & 0xFF, 0)
    l4[:, 12] = np.where(tcp, 0x50, 0)
    l4[:, 13] = np.where(tcp, cols["flags"], 0)
    l4[:, 14] = np.where(tcp, cols["win"] >> 8, 0)
    l4[:, 15] = np.where(tcp, cols["win"] & 0xFF, 0)
    # magic, version 2.4, thiszone, sigfigs, snaplen, Ethernet link type
    ghdr = struct.pack("<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, 65535, 1)
    return ghdr + rec.tobytes()


def canonical_table(capture: dict[str, dict[str, np.ndarray]]) -> pa.Table:
    """The canonical packet frame the program derives from the captures,
    computed here from the generator's own arrays (the reference side
    of the KPI checks). ``flow_key`` stands in for the program's hashed
    flow id; IATs do not depend on how ties inside a flow are broken."""
    parts = []
    for key, cols in capture.items():
        n = len(cols["sec"])
        proto = cols["proto"]
        tcp = proto == 6
        flow_key = (
            cols["src"].astype(np.uint64) << np.uint64(32) ^ cols["dst"].astype(np.uint64)
        ) * np.uint64(1_000_003) + (cols["sport"] * 65536 + cols["dport"]).astype(np.uint64)
        flow_key = flow_key ^ proto.astype(np.uint64)
        parts.append(
            pa.table(
                {
                    "event_id": np.arange(n, dtype=np.int64),
                    "ts_us": cols["sec"] * 1_000_000 + cols["usec"],
                    "slice": pa.array([SLICES[key][0]] * n),
                    "flow_id": flow_key,
                    "ts_sec": cols["sec"] + cols["usec"] / 1_000_000.0,
                    "pkt_len": cols["orig_len"].astype(np.float64),
                    "protocol": pa.array(
                        np.where(tcp, "TCP", np.where(proto == 17, "UDP", "ICMP"))
                    ),
                    "src_port": cols["sport"].astype(np.int32),
                    "dst_port": cols["dport"].astype(np.int32),
                    "win_size": np.where(tcp, cols["win"], 0).astype(np.int32),
                    "tcp_flags": np.where(tcp, cols["flags"], 0).astype(np.int32),
                }
            )
        )
    return pa.concat_tables(parts)


# ---------------------------------------------------------------- tables


def _ts_us(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"))


def gen_events(seed: int, days: int, events_per_hour: int, users: int) -> pa.Table:
    """``events`` with the testdata schema and laws (measured on the
    sf0.1 test data: five event types at 20% each, value ~ Exp(50) to
    the cent, props ``{"k": 0..99}``, users uniform).  ``days`` sets the
    hourly series length, ``events_per_hour`` the aggregation volume;
    both, and ``users``, are sized to the run budget, not taken from
    the test data."""
    rng = np.random.default_rng(seed)
    n = days * 24 * events_per_hour
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, days * 86_400_000_000, n))
    types = np.array(["click", "error", "purchase", "signup", "view"])
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _ts_us(ts),
            "user_id": rng.integers(0, users, n),
            "event_type": types[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": np.char.add(np.char.add('{"k": ', k.astype(str)), "}"),
        }
    )


def gen_tpch(seed: int, orders: int) -> dict[str, pa.Table]:
    """``customer``/``orders``/``lineitem`` with the testdata schema and
    its ratios at sf0.1 (10 orders per customer, 4 lineitems per order
    on average, order dates 1995-01-01 to 2001-08-01); ``orders`` is
    sized to the run budget (sf0.1 has 150 000)."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, orders // 10)
    day_us = 86_400_000_000
    d0 = np.datetime64("1995-01-01", "us").astype(np.int64)
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[rng.integers(0, 5, n_cust)],
        }
    )
    odate = d0 + rng.integers(0, 2404, orders) * day_us
    orders_t = pa.table(
        {
            "o_orderkey": np.arange(orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, orders),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, orders)],
            "o_totalprice": np.round(rng.uniform(1000, 400000, orders), 2),
            "o_orderdate": _ts_us(odate),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, orders)],
        }
    )
    per_order = rng.integers(1, 8, orders)
    okey = np.repeat(np.arange(orders, dtype=np.int64), per_order)
    n = len(okey)
    line = np.arange(n) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1
    qty = rng.integers(1, 51, n).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, 20000, n),
            "l_suppkey": rng.integers(0, 1000, n),
            "l_linenumber": line.astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _ts_us(np.repeat(odate, per_order) + rng.integers(1, 122, n) * day_us),
        }
    )
    return {"customer": customer, "orders": orders_t, "lineitem": lineitem}
