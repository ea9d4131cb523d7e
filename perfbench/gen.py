"""Seeded benchmark inputs: fixture-shaped tables and wire-JSON event files.

Everything here is a pure function of ``seed`` (and the sizes passed in):
the same seed writes byte-identical files. The tables follow the fixture
schemas in FIXTURES.md (TPC-H-ish star schema, ``events``, ``documents``,
``embeddings``) so every query factory runs on them unchanged; the wire
stream is the ``events`` table replayed as the producer's JSON messages,
the same mapping ``streaming_etl_file_roundtrip`` uses, with fixed shares
of messages the ETL must reject mixed in.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
_EVENT_SPAN_US = 30 * 86_400_000_000  # events cover 2024-01-01 .. 2024-01-30
_DAY_US = 86_400_000_000
_ORDER_T0_US = 788_918_400_000_000  # 1995-01-01
_ORDER_DAYS = 2404  # .. 2001-08-01

_WORDS = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream merge "
    "data vector customer join"
).split()
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Shares of rejected messages, relative to the valid ones. Each kind is
# dropped by a different stage: malformed JSON and a missing required key
# by validate_required (T5), a sub-50 quality score by quality_filter (E4).
MALFORMED_SHARE = 0.01
MISSING_FIELD_SHARE = 0.01
LOW_QUALITY_SHARE = 0.02


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    ts = np.sort(rng.integers(0, _EVENT_SPAN_US, n)) + _T0_US
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {x}}}' for x in k.tolist()]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.005:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.035:  # near duplicate: ~5% of the words replaced
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)).tolist():
                toks[j] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(toks))
            continue
        texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(8, 101))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _tpch(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    money = lambda lo, hi, m: np.round(rng.uniform(lo, hi, m), 2)  # noqa: E731
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    region = pa.table(
        {"r_regionkey": pa.array(np.arange(5), pa.int32()), "r_name": pa.array(_REGIONS)}
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp)),
        }
    )
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(_PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)),
        }
    )
    order_day = rng.integers(0, _ORDER_DAYS + 1, n_ord)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(money(1000.0, 500_000.0, n_ord)),
            "o_orderdate": _ts(_ORDER_T0_US + order_day * _DAY_US),
            "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }
    )
    n_li = 4 * n_ord
    okey = rng.integers(0, n_ord, n_li)
    flags = rng.integers(0, 3, n_li)
    ship_day = order_day[okey] + rng.integers(1, 122, n_li)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype("float64")),
            "l_extendedprice": pa.array(money(900.0, 105_000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[flags]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": _ts(_ORDER_T0_US + ship_day * _DAY_US),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def build_events(seed: int, sf: float) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    return _events(rng, int(1_000_000 * sf), max(10, int(15_000 * sf)))


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten fixture tables at scale factor ``sf`` (row counts follow
    TESTDATA.md: 1M events, 6M line items per unit of sf)."""
    tables = _tpch(np.random.default_rng([seed, 2]), sf)
    tables["events"] = build_events(seed, sf)
    tables["documents"] = _documents(np.random.default_rng([seed, 3]), max(500, int(50_000 * sf)))
    tables["embeddings"] = _embeddings(np.random.default_rng([seed, 4]), max(500, int(20_000 * sf)))
    return tables


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


@dataclass
class WireStream:
    """Wire-JSON lines plus what the ETL must make of them."""

    lines: list[str]
    valid: np.ndarray  # per line: True for a message the ETL must keep
    base_rows: np.ndarray  # events row index behind each valid line, in order
    malformed: int
    missing_field: int
    low_quality: int

    @property
    def rejected(self) -> int:
        return self.malformed + self.missing_field + self.low_quality

    def split(self, n: int) -> list[tuple[list[str], np.ndarray]]:
        """``n`` consecutive chunks: (lines, base rows of their valid lines)."""
        bounds = np.linspace(0, len(self.lines), n + 1).astype(int)
        first_row = np.concatenate([[0], np.cumsum(self.valid)])
        return [
            (self.lines[lo:hi], self.base_rows[first_row[lo] : first_row[hi]])
            for lo, hi in zip(bounds, bounds[1:])
        ]


def _valid_tails(d: dict[str, list]) -> list[str]:
    """Per events row: the wire JSON after the ``id`` key (the part every
    replayed copy of the row shares)."""
    out = []
    for ts, msg, uid, et, val in zip(
        d["ts"], d["props"], d["user_id"], d["event_type"], d["value"]
    ):
        msg = msg.replace("\\", "\\\\").replace('"', '\\"')
        out.append(
            f'"timestamp":"{ts:%Y-%m-%dT%H:%M:%S.%f}Z","message":"{msg}",'
            f'"user_id":"{uid}","event_type":"{et}","value":{val!r}}}'
        )
    return out


def wire_stream(events: pa.Table, n_valid: int, seed: int) -> WireStream:
    """``n_valid`` valid messages replaying ``events`` cyclically (copy c of
    row r gets id ``c * len(events) + r``, so ids never repeat), with the
    reject shares above inserted at seeded positions. Valid messages keep
    event-time order within each replayed copy."""
    rng = np.random.default_rng([seed, 5])
    n = events.num_rows
    d = events.to_pydict()
    tails = _valid_tails(d)
    base_rows = np.arange(n_valid) % n
    valid = [f'{{"id":"{i}",{tails[r]}' for i, r in enumerate(base_rows.tolist())]
    n_mal = round(n_valid * MALFORMED_SHARE)
    n_miss = round(n_valid * MISSING_FIELD_SHARE)
    n_low = round(n_valid * LOW_QUALITY_SHARE)
    bad: list[str] = []
    for j in range(n_mal):
        # half are not JSON at all, half are cut off mid-object
        bad.append(f"<malformed {j}>" if j % 2 else f'{{"id":"m{j}","message":"cut')
    for j, r in enumerate(rng.integers(0, n, n_miss).tolist()):
        # a valid message with its required user_id key removed
        bad.append(f'{{"id":"x{j}",{tails[r]}'.replace(f',"user_id":"{d["user_id"][r]}"', ""))
    for j, r in enumerate(rng.integers(0, n, n_low).tolist()):
        bad.append(
            f'{{"id":"q{j}","timestamp":"{d["ts"][r]:%Y-%m-%dT%H:%M:%S.%f}Z","message":"",'
            f'"user_id":"unknown","event_type":"{d["event_type"][r]}","value":0.0}}'
        )
    total = n_valid + len(bad)
    is_bad = np.zeros(total, dtype=bool)
    is_bad[rng.choice(total, len(bad), replace=False)] = True
    order = rng.permutation(len(bad))
    merged = np.empty(total, dtype=object)
    merged[is_bad] = np.array(bad, dtype=object)[order]
    merged[~is_bad] = np.array(valid, dtype=object)
    return WireStream(merged.tolist(), ~is_bad, base_rows, n_mal, n_miss, n_low)


def encode_lines(lines: list[str]) -> bytes:
    return ("\n".join(lines) + "\n").encode()


def write_backlog(stream: WireStream, in_dir: str, n_files: int) -> list[str]:
    """Split the stream into ``n_files`` equal JSON-lines files, in order."""
    os.makedirs(in_dir, exist_ok=True)
    paths = []
    for i, (lines, _) in enumerate(stream.split(n_files)):
        path = os.path.join(in_dir, f"part-{i:05d}.jsonl")
        with open(path, "wb") as f:
            f.write(encode_lines(lines))
        paths.append(path)
    return paths
