"""Self-tests of the benchmark itself (no Spark needed).

    python3 perfbench/selftest.py

* the same seed gives identical inputs, another seed different ones;
* every metric name matches ``[A-Za-z0-9_.-]+`` and BENCHMARK.json
  lists exactly the metrics run.py reports;
* design.json records the row counts datagen.py writes;
* the oracle comparison tells a rounding tie from a wrong value.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pandas as pd

import datagen
import run
from oracle import Oracle

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {msg}")


def test_seeded_inputs() -> None:
    for wl in run.WORKLOADS:
        a, b = datagen.fingerprint(wl, 1), datagen.fingerprint(wl, 1)
        check(a == b, f"{wl}: seed 1 gave two different inputs")
        check(a != datagen.fingerprint(wl, 2),
              f"{wl}: seeds 1 and 2 gave the same inputs")


def test_metric_names() -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    for name in names + list(run.END_TO_END) + list(run.PER_LAYER):
        check(NAME.fullmatch(name) is not None, f"bad metric name {name!r}")
    check(len(names) == len(set(names)), "duplicate metric names")
    check([m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END),
          "BENCHMARK.json end_to_end differs from run.END_TO_END")
    check([m["name"] for m in bench["per_layer"]] == list(run.PER_LAYER),
          "BENCHMARK.json per_layer differs from run.PER_LAYER")
    check([w["name"] for w in bench["workloads"]] == list(run.WORKLOADS),
          "BENCHMARK.json workloads differ from run.WORKLOADS")


def test_design_row_counts() -> None:
    with open(os.path.join(run.HERE, "design.json")) as fh:
        design = json.load(fh)
    for wl, spec in design["workloads"].items():
        check(spec["rows"] == datagen.SIZES[wl],
              f"{wl}: design.json rows differ from datagen.SIZES")
        check(spec["queries"] == run.WORKLOADS[wl]["queries"],
              f"{wl}: design.json queries differ from run.WORKLOADS")


def test_rounding_ties() -> None:
    oracle = Oracle.__new__(Oracle)
    oracle.canon = lambda df: df.reset_index(drop=True)
    oracle.value_hash = lambda df: df.to_csv(index=False)
    oracle.expected = {"q": pd.DataFrame({"k": [1, 2], "v": [0.5, 0.0]})}
    same = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.0]})
    tie = pd.DataFrame({"k": [1, 2], "v": [0.500001, -0.0]})
    wrong = pd.DataFrame({"k": [1, 2], "v": [0.500002, 0.0]})
    check(oracle.check("q", same) == "ok", "equal frames not ok")
    check(oracle.check("q", tie) == "tie", "one 6-dp step not a tie")
    check(oracle.check("q", wrong) == "wrong", "two 6-dp steps not wrong")
    check(oracle.check("rows_only", same) == "ok", "rows-only check failed")
    check(oracle.check("rows_only", same.iloc[:0]) == "wrong",
          "empty rows-only result passed")


if __name__ == "__main__":
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for test in tests:
        test()
        print(f"ok  {test.__name__}")
    sys.exit(0)
