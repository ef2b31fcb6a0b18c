"""Self-tests of the benchmark itself: deterministic inputs, metric and
workload names, correctness checks that trip on a corrupted result,
and a refusal to run without the program. No Spark session needed:

    python3 -m pytest plantbench/tests -q
"""

from __future__ import annotations

import csv
import io
import json
import os
import re
import shutil
import subprocess
import sys
from datetime import datetime

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from plantbench import checks, gen, run  # noqa: E402
from plantbench.workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------- deterministic


def test_same_seed_same_inputs():
    plant = gen.Plant(1, 3)
    tags = np.arange(plant.n_tags)
    a = gen.archive_table(7, tags + 1, tags, 0, 120)
    assert a.equals(gen.archive_table(7, tags + 1, tags, 0, 120))
    assert not a.equals(gen.archive_table(8, tags + 1, tags, 0, 120))
    assert gen.Plant(1, 3).doc == plant.doc

    def head(seed, n=40):
        s = gen.request_stream(seed, plant, 2)
        return [next(s) for _ in range(n)]

    assert head(7) == head(7)
    assert head(7) != head(8)
    f7 = gen.derived_formulas(7, plant.n_tags, 4)
    assert f7 == gen.derived_formulas(7, plant.n_tags, 4)
    webids = {f"W{k}": k for k in range(plant.n_tags)}
    body = {"request_1": {"resource": f"{gen.PI_BASE_URL}/streamsets/W3/"
                          "interpolated?startTime=2026-01-05T01:00:00"
                          "&endTime=2026-01-05T01:02:00&interval=1m"}}
    r1 = gen.FakePITransport(7, plant, webids)("POST", "x/batch", body)
    r2 = gen.FakePITransport(7, plant, webids)("POST", "x/batch", body)
    assert r1 == r2
    items = r1["request_1"]["Content"]["Items"][0]["Items"]
    assert [i["Timestamp"] for i in items] == [
        "2026-01-04T18:00:00Z", "2026-01-04T18:01:00Z", "2026-01-04T18:02:00Z"]


def test_values_are_full_entropy_doubles():
    v = gen.tag_values(1, np.zeros(1000, dtype=np.int64), np.arange(1000))
    assert len(set(v.tolist())) == 1000
    assert not np.any(v == np.round(v))


def test_mix_is_fixed_per_block():
    plant = gen.Plant(1, 3)
    s = gen.request_stream(3, plant, 2)
    for _ in range(4):
        kinds = [next(s)[0] for _ in range(gen.BLOCK)]
        assert kinds.count("trend") * 2 > gen.BLOCK
        assert kinds.count("export_csv") == 1
        assert kinds.count("rollup") + kinds.count("anomaly") == 1


def test_chained_formula_reads_a_derived_attribute():
    fs = gen.derived_formulas(5, 200, 4)
    assert fs[-1].args[0] == fs[0].derived_tag
    assert all(2 <= len(f.args) <= 3 for f in fs)
    ids = {k: k + 1 for k in range(200)}
    ids.update({f.derived_tag: 300 + i for i, f in enumerate(fs)})
    assert f"${ids[fs[0].derived_tag]}" in fs[-1].text(ids.__getitem__)


# ------------------------------------------------------------- names


def test_names_follow_the_benchmark_contract():
    bench = _benchmark_json()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} \
        == run.PER_LAYER
    names = ([w["name"] for w in bench["workloads"]]
             + [m["name"] for m in bench["end_to_end"] + bench["per_layer"]])
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert UNIT.match(m["unit"]), m
    for m in bench["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert "setup_s" in run.END_TO_END


# ----------------------------------------------- checks trip on corruption


def _bump(x: float) -> float:
    return float(np.nextafter(x, np.inf))


def _trend_rows(seed, params):
    mins = np.arange(params["m0"], params["m1"] + 1)
    rows = [{"timestamp": gen.minute_ts(m)} for m in mins]
    for tag in params["tags"]:
        col = gen.ATTRS[tag % len(gen.ATTRS)]
        for r, v in zip(rows, gen.tag_values(seed, tag, mins)):
            r[col] = float(v)
    return rows


def test_trend_check_trips_on_one_ulp():
    params = {"tags": [5, 6, 7, 8, 9], "m0": 100, "m1": 159}
    rows = _trend_rows(3, params)
    checks.trend(3, params, rows)
    rows[17]["Temperature"] = _bump(rows[17]["Temperature"])
    with pytest.raises(checks.WrongResult):
        checks.trend(3, params, rows)
    with pytest.raises(checks.WrongResult):
        checks.trend(3, params, rows[:-1])


def test_export_check_trips_on_a_cell():
    plant = gen.Plant(1, 3)
    params = {"tags": [0, 6, 12], "m0": 0, "m1": 9}
    mins = np.arange(10)
    names = [f"{plant.leaf_names()[t // 5][2]}|{gen.ATTRS[t % 5]}"
             for t in params["tags"]]
    cols = [gen.tag_values(3, t, mins) for t in params["tags"]]
    out = io.StringIO()
    w = csv.writer(out)
    w.writerow(["timestamp"] + names)
    for i, m in enumerate(mins):
        w.writerow([gen.minute_ts(m).strftime("%Y-%m-%dT%H:%M:%S.000Z")]
                   + [repr(float(c[i])) for c in cols])
    text = out.getvalue()
    checks.export_csv(3, plant, params, text, 10)
    with pytest.raises(checks.WrongResult):
        checks.export_csv(3, plant, params, text, 9)
    bad = text.replace(repr(float(cols[1][4])), repr(_bump(cols[1][4])))
    with pytest.raises(checks.WrongResult):
        checks.export_csv(3, plant, params, bad, 10)


def test_rollup_and_anomaly_checks_trip():
    days = 1
    params = {"tags": [2, 4]}
    rows = []
    for tag in params["tags"]:
        v = gen.tag_values(9, tag, np.arange(1440)).reshape(24, 60)
        for h in range(24):
            rows.append({"attribute_id": tag + 1,
                         "bucket_ts": gen.minute_ts(h * 60),
                         "avg_value": round(float(v[h].mean()), 6),
                         "min_value": float(v[h].min()),
                         "max_value": float(v[h].max()),
                         "n_values": 60, "first_value": float(v[h, 0]),
                         "last_value": float(v[h, -1])})
    checks.rollup(9, days, params, rows)
    rows[5]["n_values"] = 59
    with pytest.raises(checks.WrongResult):
        checks.rollup(9, days, params, rows)

    aparams = {"tags": [1, 3], "m0": 0, "m1": 1439}
    flagged = []
    for tag in aparams["tags"]:
        f, _ = checks.expected_anomalies(9, tag, 0, 1439)
        flagged += [{"attribute_id": tag + 1, "timestamp": gen.minute_ts(m)}
                    for m in sorted(f)]
    assert flagged, "the value function should produce spikes"
    checks.anomaly(9, aparams, flagged)
    with pytest.raises(checks.WrongResult):
        checks.anomaly(9, aparams, flagged[1:])


def test_ingest_checks_trip_on_a_derived_value():
    n = 20
    fs = gen.derived_formulas(4, n, 4)
    ids = {k: k + 1 for k in range(n)}
    ids.update({f.derived_tag: 100 + i for i, f in enumerate(fs)})
    m = 1500
    rows = [{"attribute_id": k + 1,
             "value": float(gen.tag_values(4, k, m))} for k in range(n)]
    rows += [{"attribute_id": ids[f.derived_tag],
              "value": float(gen.formula_values(4, fs, f, np.array([m]))[0])}
             for f in fs]
    checks.ingested(4, fs, ids, n, m, rows)
    rows[-1]["value"] = _bump(rows[-1]["value"])  # the chained attribute
    with pytest.raises(checks.WrongResult):
        checks.ingested(4, fs, ids, n, m, rows)
    with pytest.raises(checks.WrongResult):
        checks.ingested(4, fs, ids, n, m, rows[:-1])


def test_derived_history_check_trips_on_a_value():
    n = 20
    fs = gen.derived_formulas(6, n, 2)
    ids = {k: k + 1 for k in range(n)}
    ids.update({f.derived_tag: 100 + i for i, f in enumerate(fs)})
    mins = np.arange(30)
    rows = [{"attribute_id": ids[f.derived_tag],
             "timestamp": gen.minute_ts(m), "value": float(v)}
            for f in fs
            for m, v in zip(mins, gen.formula_values(6, fs, f, mins))]
    checks.derived_history(6, fs, ids, 30, rows)
    rows[-1]["value"] = _bump(rows[-1]["value"])  # the chained attribute
    with pytest.raises(checks.WrongResult):
        checks.derived_history(6, fs, ids, 30, rows)
    with pytest.raises(checks.WrongResult):
        checks.derived_history(6, fs, ids, 30, rows[1:])


def test_lookup_and_browse_checks():
    plant = gen.Plant(1, 3)
    eids = plant.element_ids()
    leaf = plant.leaf_names()[2][2]
    checks.lookup(plant, {"kind": "element", "text": leaf},
                  [{"name": leaf, "element_id": eids[leaf]}])
    with pytest.raises(checks.WrongResult):
        checks.lookup(plant, {"kind": "element", "text": leaf},
                      [{"name": leaf, "element_id": eids[leaf] + 1}])
    like = [{"name": n} for n in eids if "eq 002" in n.lower()]
    checks.lookup(plant, {"kind": "element", "text": "%eq 002%"}, like)
    with pytest.raises(checks.WrongResult):
        checks.lookup(plant, {"kind": "element", "text": "%eq 002%"},
                      like[1:])
    attrs = [{"name": a, "element_name": leaf} for a in gen.ATTRS]
    checks.browse(plant, {"all": False, "leaf": 2}, attrs)
    with pytest.raises(checks.WrongResult):
        checks.browse(plant, {"all": False, "leaf": 1}, attrs)
    checks.ts_range(2, (datetime(2026, 1, 5), datetime(2026, 1, 6, 23, 59)))
    with pytest.raises(checks.WrongResult):
        checks.ts_range(2, (datetime(2026, 1, 5), datetime(2026, 1, 6)))


# ---------------------------------------------------- without the program


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "plantbench"), tmp_path / "plantbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "plantbench/run.py", "--workload", "plant_query",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
