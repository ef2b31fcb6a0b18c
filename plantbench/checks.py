"""Correctness checks: every result against arithmetic on the value
function (gen.tag_values / gen.formula_values). A check raises
:class:`WrongResult`; the caller counts it as a failed operation.

The checks take plain Python values (collected rows as dicts, CSV
text, tuples), never Spark objects, so they can be exercised without
a session.
"""

from __future__ import annotations

import csv
import io
import re
from datetime import datetime

import numpy as np

from plantbench import gen


class WrongResult(Exception):
    pass


def _expect(cond: bool, msg: str) -> None:
    if not cond:
        raise WrongResult(msg)


def _minutes(ts_list) -> np.ndarray:
    return np.array([gen.ts_minute(t) for t in ts_list], dtype=np.int64)


def _same(got, want: np.ndarray, what: str) -> None:
    got = np.asarray(got, dtype=np.float64)
    _expect(got.shape == want.shape, f"{what}: shape {got.shape} != {want.shape}")
    bad = np.flatnonzero(got != want)
    _expect(bad.size == 0,
            f"{what}: {bad.size} values differ, first {got[bad[:1]]} != "
            f"{want[bad[:1]]}")


def trend(seed: int, params: dict, rows: list[dict]) -> None:
    """Wide 1-hour trend of one equipment's tags: 60 rows, one column
    per attribute name, every cell exact."""
    n = params["m1"] - params["m0"] + 1
    _expect(len(rows) == n, f"trend: {len(rows)} rows, want {n}")
    mins = _minutes(r["timestamp"] for r in rows)
    _expect(np.array_equal(mins, np.arange(params["m0"], params["m1"] + 1)),
            "trend: timestamps not the requested minutes in order")
    for tag in params["tags"]:
        col = gen.ATTRS[tag % len(gen.ATTRS)]
        _same([r[col] for r in rows], gen.tag_values(seed, tag, mins),
              f"trend tag {tag}")


def export_csv(seed: int, plant: gen.Plant, params: dict, text: str,
               reported_rows: int) -> None:
    """CSV export of 20 tags × 1 day: header = timestamp plus one
    ``element|attribute`` column per tag, every cell exact."""
    rows = list(csv.reader(io.StringIO(text)))
    _expect(bool(rows), "export: empty file")
    header, body = rows[0], rows[1:]
    n = params["m1"] - params["m0"] + 1
    _expect(len(body) == n and reported_rows == n,
            f"export: {len(body)} rows in file, {reported_rows} reported, "
            f"want {n}")
    _expect(header[0] == "timestamp", f"export: header {header[:2]}")
    col_tag = {}
    for tag in params["tags"]:
        _unit, _system, eq = plant.leaf_names()[tag // len(gen.ATTRS)]
        col_tag[f"{eq}|{gen.ATTRS[tag % len(gen.ATTRS)]}"] = tag
    _expect(sorted(header[1:]) == sorted(col_tag),
            f"export: columns {header[1:4]}... not the requested tags")
    mins = _minutes(_parse_ts(r[0]) for r in body)
    _expect(np.array_equal(mins, np.arange(params["m0"], params["m1"] + 1)),
            "export: timestamps not the requested day in order")
    for j, name in enumerate(header[1:], start=1):
        _same([float(r[j]) for r in body],
              gen.tag_values(seed, col_tag[name], mins), f"export {name}")


def _parse_ts(text: str) -> datetime:
    """ISO timestamp (Spark writes ``...000Z``) → naive UTC."""
    ts = datetime.fromisoformat(text)
    return (ts - ts.utcoffset()).replace(tzinfo=None) if ts.tzinfo else ts


def lookup(plant: gen.Plant, params: dict, rows: list[dict]) -> None:
    """Exact lookups return the one named row; LIKE lookups return
    exactly the catalog names the case-insensitive pattern matches."""
    names = ([n for n, _ in plant.element_ids().items()]
             if params["kind"] == "element" else
             [a for _ in range(plant.n_tags // len(gen.ATTRS))
              for a in gen.ATTRS])
    text = params["text"]
    if "%" in text:
        rx = re.compile("^" + ".*".join(map(re.escape, text.lower()
                                            .split("%"))) + "$", re.S)
        want = sorted(n for n in names if rx.match(n.lower()))
    else:
        want = [text] if text in names else []
    got = sorted(r["name"] for r in rows)
    _expect(got == want, f"lookup {text!r}: {len(got)} rows, want {len(want)}")
    if params["kind"] == "element" and "%" not in text and rows:
        _expect(rows[0]["element_id"] == plant.element_ids()[text],
                f"lookup {text!r}: id {rows[0]['element_id']}")


def browse(plant: gen.Plant, params: dict, rows: list[dict]) -> None:
    """``all_attributes`` of one leaf (its five tags, decorated with the
    element name), or ``leaf_elements`` (root plus every leaf)."""
    if params["all"]:
        want = sorted(["Plant"] + [leaf[2] for leaf in plant.leaf_names()])
        _expect(sorted(r["name"] for r in rows) == want,
                f"leaf_elements: {len(rows)} rows, want {len(want)}")
        return
    leaf = plant.leaf_names()[params["leaf"]][2]
    _expect(sorted(r["name"] for r in rows) == sorted(gen.ATTRS)
            and all(r["element_name"] == leaf for r in rows),
            f"all_attributes({leaf}): {[r['name'] for r in rows]}")


def ts_range(days: int, got: tuple) -> None:
    want = (gen.minute_ts(0), gen.minute_ts(days * gen.MINUTES_PER_DAY - 1))
    _expect(tuple(got) == want, f"timestamp_range: {got} != {want}")


def rollup(seed: int, days: int, params: dict, rows: list[dict]) -> None:
    """Hourly rollup over all history: 60 values per (tag, hour);
    min/max/first/last exact, avg within the 6-decimal rounding."""
    hours = days * 24
    _expect(len(rows) == len(params["tags"]) * hours,
            f"rollup: {len(rows)} rows, want {len(params['tags']) * hours}")
    by_tag: dict[int, list[dict]] = {}
    for r in rows:
        by_tag.setdefault(r["attribute_id"] - 1, []).append(r)
    _expect(sorted(by_tag) == list(params["tags"]), "rollup: wrong tags")
    mins = np.arange(hours * 60, dtype=np.int64)
    for tag, rs in by_tag.items():
        rs.sort(key=lambda r: r["bucket_ts"])
        _expect(np.array_equal(_minutes(r["bucket_ts"] for r in rs),
                               np.arange(0, hours * 60, 60)),
                f"rollup tag {tag}: buckets")
        v = gen.tag_values(seed, tag, mins).reshape(hours, 60)
        _expect(all(r["n_values"] == 60 for r in rs), f"rollup tag {tag}: counts")
        _same([r["min_value"] for r in rs], v.min(axis=1), f"rollup {tag} min")
        _same([r["max_value"] for r in rs], v.max(axis=1), f"rollup {tag} max")
        _same([r["first_value"] for r in rs], v[:, 0], f"rollup {tag} first")
        _same([r["last_value"] for r in rs], v[:, -1], f"rollup {tag} last")
        avg = np.array([r["avg_value"] for r in rs])
        _expect(bool(np.all(np.abs(avg - v.mean(axis=1)) <= 1.5e-6)),
                f"rollup tag {tag}: avg")


def expected_anomalies(seed: int, tag: int, m0: int, m1: int,
                       window: int = 10, z_threshold: float = 3.0):
    """(anomalous minutes, borderline minutes) of one tag's day under
    ``rolling_anomaly``'s definition: trailing ``window`` rows, current
    row excluded, population sd, flag at |z| > threshold with a full
    window. Borderline minutes (|z| within 1e-9 of the threshold) may
    go either way."""
    from numpy.lib.stride_tricks import sliding_window_view

    mins = np.arange(m0, m1 + 1, dtype=np.int64)
    x = gen.tag_values(seed, tag, mins)
    w = sliding_window_view(x[:-1], window)  # row j: x[j .. j+window-1]
    mean = w.mean(axis=1)
    sd = np.sqrt(np.maximum((w * w).mean(axis=1) - mean * mean, 0.0))
    with np.errstate(divide="ignore", invalid="ignore"):
        z = np.where(sd > 0, np.abs(x[window:] - mean) / sd, 0.0)
    at = mins[window:]
    border = set(at[np.abs(z - z_threshold) < 1e-9].tolist())
    flagged = set(at[z > z_threshold].tolist()) - border
    return flagged, border


def anomaly(seed: int, params: dict, rows: list[dict]) -> None:
    """The flagged (tag, minute) set equals the value function's."""
    got = {(r["attribute_id"] - 1, gen.ts_minute(r["timestamp"]))
           for r in rows}
    want, border = set(), set()
    for tag in params["tags"]:
        f, b = expected_anomalies(seed, tag, params["m0"], params["m1"])
        want |= {(tag, m) for m in f}
        border |= {(tag, m) for m in b}
    _expect((got - border) == want,
            f"anomaly: {len(got)} flagged, want {len(want)}")


def ingested(seed: int, formulas: list[gen.Formula], tag_ids: dict,
             n_tags: int, minute: int, rows: list[dict]) -> None:
    """Archive content at one ingested minute: every source tag and
    every derived attribute (the chained one included) present once
    with its exact value."""
    got = {r["attribute_id"]: r["value"] for r in rows}
    _expect(len(got) == len(rows), f"minute {minute}: duplicate keys")
    _expect(len(rows) == n_tags + len(formulas),
            f"minute {minute}: {len(rows)} rows, want "
            f"{n_tags + len(formulas)}")
    m = np.array([minute], dtype=np.int64)
    src = np.arange(n_tags)
    _same([got.get(tag_ids[t], np.nan) for t in src],
          gen.tag_values(seed, src, np.full(n_tags, minute)),
          f"minute {minute} sources")
    for f in formulas:
        _same([got.get(tag_ids[f.derived_tag], np.nan)],
              gen.formula_values(seed, formulas, f, m),
              f"minute {minute} {f.name}")


def derived_history(seed: int, formulas: list[gen.Formula], tag_ids: dict,
                    minutes: int, rows: list[dict]) -> None:
    """History the program backfilled for every derived attribute: one
    exact value per minute of [0, minutes)."""
    by_id: dict[int, list[dict]] = {}
    for r in rows:
        by_id.setdefault(r["attribute_id"], []).append(r)
    mins = np.arange(minutes, dtype=np.int64)
    for f in formulas:
        rs = sorted(by_id.get(tag_ids[f.derived_tag], []),
                    key=lambda r: r["timestamp"])
        _expect(len(rs) == minutes,
                f"{f.name}: {len(rs)} backfilled rows, want {minutes}")
        _expect(np.array_equal(_minutes(r["timestamp"] for r in rs), mins),
                f"{f.name}: backfilled timestamps")
        _same([r["value"] for r in rs],
              gen.formula_values(seed, formulas, f, mins), f"{f.name} history")
