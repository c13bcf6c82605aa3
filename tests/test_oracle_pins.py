"""Pins every DuckDB oracle twin to its (row count, value hash).

The twins in ``queries.ORACLE`` are the correctness reference for the
Spark bodies, so a refactor of their SQL must not change a single
result. This test runs each twin on DuckDB at sf0.001 and sf0.01 and
compares it with ``tests/oracle_pins.json``. The hash is
``tools/gate_check.py``'s ``value_hash``, so there is one definition.

A change that means to move a twin's result regenerates the file with
``python tests/test_oracle_pins.py <testdata dir holding sf0.001 and
sf0.01>`` and says why in its diff.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gfftoneo4j_spark.queries import ORACLE  # noqa: E402

PINS = os.path.join(REPO, "tests", "oracle_pins.json")
SCALES = ("sf0.001", "sf0.01")

_spec = importlib.util.spec_from_file_location(
    "gate_check", os.path.join(REPO, "tools", "gate_check.py")
)
gate_check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(gate_check)


def run_twins(sf_dir: str) -> dict[str, list]:
    """{name: [rows, value_hash]} for every oracle twin at sf_dir."""
    con = duckdb.connect()
    for t in gate_check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name, sql in ORACLE.items():
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        out[name] = [len(rows), gate_check.value_hash(cols, rows)]
    con.close()
    return out


def _load_pins() -> dict:
    with open(PINS) as f:
        return json.load(f)


def test_pins_cover_every_twin():
    pins = _load_pins()
    assert len(ORACLE) == 311  # every query but boruvka_mst (rows only)
    assert sorted(pins) == list(SCALES)
    for scale in SCALES:
        assert set(pins[scale]) == set(ORACLE), scale


@pytest.mark.parametrize("scale", SCALES)
def test_oracle_twins_match_pins(sf_dir, scale):
    scale_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), scale)
    if not os.path.isdir(scale_dir):
        pytest.skip(f"no testdata at {scale_dir}")
    want = _load_pins()[scale]
    got = run_twins(scale_dir)
    diff = {
        name: {"pinned": want.get(name), "got": got.get(name)}
        for name in sorted(set(want) | set(got))
        if want.get(name) != got.get(name)
    }
    assert not diff, json.dumps(diff, indent=1)


if __name__ == "__main__":
    root = sys.argv[1]
    pins = {scale: run_twins(os.path.join(root, scale)) for scale in SCALES}
    with open(PINS, "w") as f:  # one twin per line, so diffs stay readable
        f.write(
            "{\n"
            + ",\n".join(
                f" {json.dumps(scale)}: {{\n"
                + ",\n".join(
                    f"  {json.dumps(name)}: {json.dumps(pin)}"
                    for name, pin in sorted(pins[scale].items())
                )
                + "\n }"
                for scale in SCALES
            )
            + "\n}\n"
        )
    print(f"wrote {PINS}: {len(ORACLE)} twins x {len(SCALES)} scales")
