"""Seeded input generators for the benchmark.

Everything the program receives is made here from a seed: the
TPC-H-ish star schema plus the ``events``/``documents``/``embeddings``
tables the query registry reads (same names, columns and value domains
as the engine's test data), and nested METAR JSON documents in the
collector's fetch shape. The same seed always gives byte-identical
inputs.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per unit of scale factor (TPC-H proportions).
_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
_DAY_US = 86_400_000_000


def _ts(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def tables(seed: int, sf: float) -> "dict[str, pa.Table]":
    """The registry's eight-plus-two tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(v * sf)) for k, v in _PER_SF.items()}
    out: "dict[str, pa.Table]" = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0,
    })
    no = n["orders"]
    odays = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), odays * _DAY_US),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
    })
    # 1..7 lines per order; (l_orderkey, l_linenumber) is a unique key
    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    lnum = (np.arange(len(okey)) - np.repeat(np.cumsum(lines) - lines, lines)) + 1
    nl = len(okey)
    out["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(
            dt.datetime(1995, 1, 1),
            (np.repeat(odays, lines) + rng.integers(1, 122, nl)) * _DAY_US,
        ),
    })
    ne = n["events"]
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(
            dt.datetime(2024, 1, 1),
            np.sort(rng.integers(0, 30 * _DAY_US, ne)),
        ),
        "user_id": rng.integers(0, max(10, nc // 10), ne).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def _documents(rng, nd: int) -> pa.Table:
    """Random 10-100 word texts; one in twenty copies an earlier doc
    (exact or one word changed) and is tagged ``dup``."""
    texts: "list[str]" = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                words[int(rng.integers(0, len(words)))] = _VOCAB[
                    int(rng.integers(0, len(_VOCAB)))
                ]
            if words[-1] != "dup":
                words.append("dup")
        else:
            words = [
                _VOCAB[w]
                for w in rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))
            ]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), nd)],
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, nv: int, dim: int = 64) -> pa.Table:
    """Unit vectors around ten class centres."""
    centres = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, nv)
    v = centres[label] * 0.35 + rng.normal(0.0, 1.0, (nv, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def write_tables(tabs: "dict[str, pa.Table]", out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tabs.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- METAR

METAR_T0 = dt.datetime(2024, 3, 1)
SLOT_MIN = 30  # the reference DAG's 30-minute cadence


def stations(n: int) -> "list[str]":
    """``n`` distinct four-letter ICAO-style codes (deterministic)."""
    out = []
    for i in range(n):
        a, b, c = i // 676 % 26, i // 26 % 26, i % 26
        out.append("U" + chr(65 + a) + chr(65 + b) + chr(65 + c))
    return out


def bronze_id(payload: str) -> str:
    """The collector's content address (md5 of the payload) mapped to
    the reference's id shapes: a hex id starting with ``c``-``f`` stays
    an ObjectId-like string (non-numeric, dropped by ods); any other
    becomes the decimal value of its first seven hex digits."""
    h = hashlib.md5(payload.encode("utf-8")).hexdigest()
    return h if h[0] in "cdef" else str(int(h[:7], 16))


class MetarGen:
    """Nested METAR documents, one batch per pipeline cycle.

    Batch ``k`` covers ``obs_per_batch`` 30-minute slots for every
    station; each observation lands at a seeded minute inside its slot
    and the batch list is shuffled (out-of-order arrival). Shares of
    the batch are re-sent earlier observations (late: behind the stg
    watermark), in-batch duplicates (identical payload, hence the same
    content id) and null visibility. Ids are unique per distinct
    payload — a colliding numeric id is re-drawn by perturbing the raw
    text, so the pipeline's merge-by-id never has to pick between two
    different documents.
    """

    def __init__(
        self,
        seed: int,
        n_stations: int,
        obs_per_batch: int,
        late_share: float = 0.02,
        dup_share: float = 0.02,
        null_vis_share: float = 0.05,
    ):
        self.rng = np.random.default_rng(seed)
        self.icaos = stations(n_stations)
        self.obs_per_batch = obs_per_batch
        self.late_share = late_share
        self.dup_share = dup_share
        self.null_vis_share = null_vis_share
        self.next_slot = 0
        self._ids: "dict[str, str]" = {}  # id -> payload
        self._history: "list[str]" = []  # payloads already sent

    def _doc(self, icao: str, observed: dt.datetime) -> dict:
        r = self.rng
        temp = int(r.integers(-30, 36))
        wind = float(r.integers(0, 40))
        vis = (
            None if r.random() < self.null_vis_share
            else float(r.integers(1, 100) * 100)
        )
        return {
            "icao": icao,
            "observed": observed.strftime("%Y-%m-%dT%H:%M:00"),
            "raw_text": f"{icao} {observed:%d%H%M}Z {temp:+d}",
            "flight_category": ["VFR", "MVFR", "IFR", "LIFR"][
                int(r.integers(0, 4))
            ],
            "temperature": {"celsius": float(temp)},
            "dewpoint": {"celsius": float(temp - int(r.integers(0, 10)))},
            "wind": {"degrees": float(r.integers(0, 36) * 10),
                     "speed_kts": wind},
            "visibility": {"meters_float": vis},
            "barometer": {"hpa": float(r.integers(980, 1040))},
            "humidity": {"percent": float(r.integers(10, 100))},
            "station": {
                "name": f"Station {icao}",
                "geometry": {"type": "Point",
                             "coordinates": [30.0, 60.0]},
            },
        }

    def _payload(self, doc: dict) -> str:
        while True:
            p = json.dumps(doc)
            i = bronze_id(p)
            prev = self._ids.get(i)
            if prev is None or prev == p:
                self._ids[i] = p
                return p
            doc["raw_text"] += " RMK"

    def batch(self) -> "list[str]":
        fresh = []
        for s in range(self.next_slot, self.next_slot + self.obs_per_batch):
            slot = METAR_T0 + dt.timedelta(minutes=SLOT_MIN * s)
            for icao in self.icaos:
                minute = int(self.rng.integers(0, SLOT_MIN))
                fresh.append(self._payload(
                    self._doc(icao, slot + dt.timedelta(minutes=minute))
                ))
        self.next_slot += self.obs_per_batch
        n = len(fresh)
        late = []
        if self._history:
            idx = self.rng.integers(0, len(self._history),
                                    int(n * self.late_share))
            late = [self._history[int(i)] for i in idx]
        dups = [fresh[int(i)] for i in
                self.rng.integers(0, n, int(n * self.dup_share))]
        self._history.extend(fresh)
        docs = fresh + late + dups
        order = self.rng.permutation(len(docs))
        return [docs[int(i)] for i in order]
