"""Seeded, deterministic inputs for the plant-traffic benchmark.

Everything the program under test receives is made here from the
``--seed``: the asset tree (tree-cache JSON), the archive frames, the
fake PI Web API transport's responses, the derived-attribute formulas
and the request mix. The same functions give the expected answers the
checks compare against, so a result is verified by arithmetic on the
value function, never by re-running the engine.

Values are full-entropy doubles drawn from a 64-bit hash of
(seed, tag, minute), so on-disk size and scan cost look like real
sensor data rather than small integers.
"""

from __future__ import annotations

import itertools
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np

#: minute 0 of every generated archive (naive, stored as UTC)
BASE = datetime(2026, 1, 5)
MINUTES_PER_DAY = 1440
SYSTEMS = ("Boiler", "Turbine", "Feedwater", "Cooling")
ATTRS = ("Flow", "Pressure", "Temperature", "Vibration", "Current")
SERVER = "PIAF01"
PI_BASE_URL = "https://pi.plant.example/piwebapi"
#: timestamps the PI transport returns are UTC; cleanse() shifts +7 h
TZ_SHIFT_HOURS = 7

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 arrays (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def tag_values(seed: int, tags, minutes) -> np.ndarray:
    """The value function: float64 reading of ``tags`` at ``minutes``
    (broadcasting arrays of tag indices and minute offsets from
    :data:`BASE`). About one reading in 1024 is a spike of +40 spans,
    so the anomaly detector has real work."""
    t = np.asarray(tags, dtype=np.int64).astype(np.uint64)
    m = np.asarray(minutes, dtype=np.int64).astype(np.uint64)
    with np.errstate(over="ignore"):
        key = (np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
               + t * np.uint64(0xD1B54A32D192ED03) + m) & _M64
    h = _mix(_mix(key))
    u = (h >> np.uint64(11)).astype(np.float64) * (2.0 ** -53)
    tf = np.asarray(tags, dtype=np.int64)
    base = 10.0 + (tf % 17) * 7.25
    span = 1.0 + (tf % 5) * 2.5
    spike = (h & np.uint64(1023)) == 0
    return base + span * u + np.where(spike, 40.0 * span, 0.0)


def minute_ts(minute: int) -> datetime:
    return BASE + timedelta(minutes=int(minute))


def ts_minute(ts: datetime) -> int:
    return int((ts - BASE).total_seconds() // 60)


# ----------------------------------------------------------------- tree


@dataclass
class Plant:
    """A plant hierarchy: root → units → systems → equipment leaves,
    each leaf carrying :data:`ATTRS`. Tag ``k`` is the k-th attribute in
    depth-first preorder, so a fresh load gives it attribute id k+1."""
    units: int
    equipment: int  # leaves per system
    doc: dict = field(init=False)

    def __post_init__(self):
        self.doc = self._build()

    @property
    def n_tags(self) -> int:
        return self.units * len(SYSTEMS) * self.equipment * len(ATTRS)

    def leaf_names(self) -> list[tuple[str, str, str]]:
        """(unit, system, equipment) names in tag order."""
        out = []
        for u in range(1, self.units + 1):
            for s in SYSTEMS:
                for e in range(1, self.equipment + 1):
                    out.append((f"Unit {u}", f"Unit {u} {s}",
                                f"U{u} {s} Eq {e:03d}"))
        return out

    def pi_path(self, k: int) -> str:
        unit, system, eq = self.leaf_names()[k // len(ATTRS)]
        return (f"\\\\{SERVER}\\Plant\\{unit}\\{system}\\{eq}"
                f"|{ATTRS[k % len(ATTRS)]}")

    def _build(self) -> dict:
        units = []
        for u in range(1, self.units + 1):
            systems = []
            for s in SYSTEMS:
                eqs = []
                for e in range(1, self.equipment + 1):
                    name = f"U{u} {s} Eq {e:03d}"
                    eqs.append({
                        "name": name, "webid": f"E{u}{s[:2]}{e:03d}",
                        "children": [], "is_leaf": True,
                        "attributes": [
                            {"name": a, "webid": f"A{u}{s[:2]}{e:03d}{a[:2]}",
                             "type": "Double", "path": "",
                             "kks": f"{u}{s[:2].upper()}{e:03d}-{a[:4].upper()}"}
                            for a in ATTRS]})
                systems.append({"name": f"Unit {u} {s}", "webid": f"S{u}{s}",
                                "children": eqs, "attributes": [],
                                "is_leaf": False})
            units.append({"name": f"Unit {u}", "webid": f"U{u}",
                          "children": systems, "attributes": [],
                          "is_leaf": False})
        return {"name": "Plant", "webid": "P0", "children": units,
                "attributes": [], "is_leaf": False}

    def element_ids(self) -> dict[str, int]:
        """Element name → id a fresh load of :attr:`doc` assigns (names
        are unique in a generated plant)."""
        ids: dict[str, int] = {}
        stack = [self.doc]
        while stack:
            node = stack.pop()
            ids[node["name"]] = len(ids) + 1
            stack.extend(reversed(node.get("children") or []))
        return ids


def archive_table(seed: int, tag_ids: np.ndarray, tags: np.ndarray,
                  minute_lo: int, minute_hi: int):
    """Long archive rows for ``tags`` (stored under ``tag_ids``) over
    minutes [minute_lo, minute_hi), as a pyarrow table in the store's
    logical schema."""
    import pyarrow as pa

    n_min = minute_hi - minute_lo
    mins = np.arange(minute_lo, minute_hi, dtype=np.int64)
    tag_col = np.repeat(np.asarray(tags, dtype=np.int64), n_min)
    min_col = np.tile(mins, len(tags))
    base_us = int((BASE - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.table({
        "attribute_id": pa.array(
            np.repeat(np.asarray(tag_ids, dtype=np.int64), n_min), pa.int64()),
        "timestamp": pa.array(base_us + min_col * 60_000_000,
                              pa.timestamp("us", tz="UTC")),
        "value": pa.array(tag_values(seed, tag_col, min_col), pa.float64()),
    })


def write_archive(path: str, seed: int, tag_ids: np.ndarray,
                  tags: np.ndarray, minute_lo: int, minute_hi: int) -> None:
    """:func:`archive_table` rows written to one parquet file a day at a
    time, so the generator holds one day of arrays, not the archive."""
    import pyarrow.parquet as pq

    writer = None
    try:
        for lo in range(minute_lo, minute_hi, MINUTES_PER_DAY):
            t = archive_table(seed, tag_ids, tags, lo,
                              min(lo + MINUTES_PER_DAY, minute_hi))
            if writer is None:
                writer = pq.ParquetWriter(path, t.schema)
            writer.write_table(t)
    finally:
        if writer is not None:
            writer.close()


# ------------------------------------------------------------- formulas


#: (template over argument slots, numpy evaluation in the same order
#: of operations the formula compiler emits)
FORMULA_TEMPLATES = (
    ("{0} + {1}", lambda a, b: a + b),
    ("({0} - {1}) * 0.5", lambda a, b: (a - b) * 0.5),
    ("{0} * {1} / ({2} + 1000)", lambda a, b, c: a * b / (c + 1000.0)),
    ("({0} + {1} + {2}) / 3", lambda a, b, c: (a + b + c) / 3.0),
    ("{0} - {1} * 2.5", lambda a, b: a - b * 2.5),
    ("{0} / ({1} + 0.75)", lambda a, b: a / (b + 0.75)),
    ("{0} * 1.8 + {1} * 0.25", lambda a, b: a * 1.8 + b * 0.25),
)


@dataclass
class Formula:
    derived_tag: int          # pseudo tag index of the derived attribute
    name: str
    template: int
    args: list[int]           # tag indices (a derived one for chains)

    def text(self, id_of) -> str:
        return FORMULA_TEMPLATES[self.template][0].format(
            *[f"${id_of(a)}" for a in self.args])

    def evaluate(self, values: list[np.ndarray]) -> np.ndarray:
        return FORMULA_TEMPLATES[self.template][1](*values)


def derived_formulas(seed: int, n_tags: int, n_formulas: int,
                     chained: bool = True) -> list[Formula]:
    """``n_formulas`` derived attributes over distinct source tags,
    fan-in 3 first, then 2 and 3 by template; with ``chained`` the last
    one reads the first derived attribute plus one source tag. Derived
    pseudo tags are numbered from ``n_tags`` upward, in insertion
    order."""
    rng = random.Random(seed * 7919 + 17)
    pool = rng.sample(range(n_tags), min(n_tags, 3 * n_formulas))
    out: list[Formula] = []
    for i in range(n_formulas):
        if chained and i == n_formulas - 1 and out:
            tpl = 0  # "{0} + {1}": derived + source
            args = [out[0].derived_tag, pool.pop()]
        else:
            tpl = (i + 2) % len(FORMULA_TEMPLATES)
            arity = FORMULA_TEMPLATES[tpl][0].count("{")
            args = [pool.pop() for _ in range(arity)]
        out.append(Formula(n_tags + i, f"Derived {i + 1:02d}", tpl, args))
    return out


def formula_values(seed: int, formulas: list[Formula], f: Formula,
                   minutes: np.ndarray) -> np.ndarray:
    """Expected values of derived ``f`` at ``minutes``."""
    by_tag = {g.derived_tag: g for g in formulas}

    def vals(tag):
        if tag in by_tag:
            return formula_values(seed, formulas, by_tag[tag], minutes)
        return tag_values(seed, np.full(len(minutes), tag), minutes)

    return f.evaluate([vals(a) for a in f.args])


# ----------------------------------------------------- fake PI transport


class FakePITransport:
    """Serves the PI Web API ``/batch`` interpolated shape from the
    value function: for a request window [start, end] (archive-local
    time, inclusive at 1-minute steps) each WebId returns one item per
    minute, timestamped in UTC (local − :data:`TZ_SHIFT_HOURS`), with
    the value as a JSON number."""

    def __init__(self, seed: int, plant: Plant, webid_tags: dict[str, int]):
        self.seed = seed
        self.plant = plant
        self.webid_tags = webid_tags
        self.rows_served = 0

    def __call__(self, method: str, url: str, body=None):
        from urllib.parse import parse_qs, urlsplit

        if method != "POST" or not url.endswith("/batch"):
            raise ValueError(f"unexpected PI call {method} {url}")
        out = {}
        for name, req in body.items():
            parts = urlsplit(req["resource"])
            webid = parts.path.split("/streamsets/")[1].split("/")[0]
            q = parse_qs(parts.query)
            lo = ts_minute(datetime.fromisoformat(q["startTime"][0]))
            hi = ts_minute(datetime.fromisoformat(q["endTime"][0]))
            k = self.webid_tags[webid]
            mins = np.arange(lo, hi + 1, dtype=np.int64)
            vals = tag_values(self.seed, np.full(len(mins), k), mins)
            self.rows_served += len(mins)
            shift = timedelta(hours=TZ_SHIFT_HOURS)
            out[name] = {"Status": 200, "Content": {"Items": [{
                "Path": self.plant.pi_path(k),
                "Items": [{"Timestamp": (minute_ts(m) - shift)
                           .strftime("%Y-%m-%dT%H:%M:%SZ"),
                           "Value": float(v)}
                          for m, v in zip(mins.tolist(), vals.tolist())]}]}}
        return out


# ---------------------------------------------------------- request mix


#: request type → count per block of 12 requests; the last slot
#: alternates between rollup and anomaly from block to block. The
#: weights are an assumption, not measured plant traffic: only that
#: trends are the most frequent request is known. With trends at 7 of
#: 12 the median request latency is the trend latency.
MIX = (("trend", 7), ("export_csv", 1), ("lookup", 1), ("browse", 1),
       ("ts_range", 1), ("rollup|anomaly", 1))
BLOCK = sum(n for _, n in MIX)
REQUEST_TYPES = ("trend", "export_csv", "lookup", "browse", "ts_range",
                 "rollup", "anomaly")


def request_stream(seed: int, plant: Plant, days: int):
    """Endless seeded request sequence for ``plant_query``: every
    block of :data:`BLOCK` holds each type at its :data:`MIX` count,
    shuffled, so the mix is the same for every seed and only the
    targets move.
    Yields (type, params) tuples."""
    rng = random.Random(seed * 104729 + 3)
    n_tags = plant.n_tags
    n_leaves = n_tags // len(ATTRS)
    leaves = plant.leaf_names()
    for b in itertools.count():  # one shuffled block of BLOCK requests
        block = [t.split("|")[b % 2] if "|" in t else t
                 for t, w in MIX for _ in range(w)]
        rng.shuffle(block)
        for kind in block:
            if kind == "trend":
                leaf = rng.randrange(n_leaves)
                m0 = rng.randrange(0, days * MINUTES_PER_DAY - 60)
                yield kind, {"tags": [leaf * len(ATTRS) + a
                                      for a in range(len(ATTRS))],
                             "m0": m0, "m1": m0 + 59}
            elif kind == "export_csv":
                tags = sorted(rng.sample(range(n_tags), 20))
                d = rng.randrange(days)
                yield kind, {"tags": tags, "m0": d * MINUTES_PER_DAY,
                             "m1": (d + 1) * MINUTES_PER_DAY - 1}
            elif kind == "lookup":
                leaf = leaves[rng.randrange(n_leaves)]
                choice = rng.randrange(3)
                if choice == 0:
                    yield kind, {"kind": "element", "text": leaf[2]}
                elif choice == 1:
                    e = rng.randrange(1, plant.equipment + 1)
                    yield kind, {"kind": "element", "text": f"%eq {e:03d}%"}
                else:
                    a = ATTRS[rng.randrange(len(ATTRS))]
                    yield kind, {"kind": "attribute",
                                 "text": f"%{a[:4].lower()}%"}
            elif kind == "browse":
                yield kind, {"leaf": rng.randrange(n_leaves),
                             "all": rng.random() < 0.5}
            elif kind == "ts_range":
                yield kind, {"tag": rng.randrange(n_tags)}
            elif kind == "rollup":
                yield kind, {"tags": sorted(rng.sample(range(n_tags), 10))}
            elif kind == "anomaly":
                d = rng.randrange(days)
                yield kind, {"tags": sorted(rng.sample(range(n_tags), 10)),
                             "m0": d * MINUTES_PER_DAY,
                             "m1": (d + 1) * MINUTES_PER_DAY - 1}
