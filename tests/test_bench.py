"""bench.py harness unit tests (no Spark session needed).

The driver captures only the tail of bench.py's stdout; rounds 3/6/7
landed BENCH_r*.json as ``parsed: null`` because the single 165-entry
JSON line got front-truncated. ``compact_payload`` is the fix: the
full map goes to bench_out.json, stdout gets a bounded line.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
)

from bench import compact_payload  # noqa: E402


def _payload(n: int) -> dict:
    return {
        "metric": "suite_seconds",
        "value": float(n),
        "unit": "sec",
        "queries": {f"q{i:03d}": float(i % 7) + 0.1 for i in range(n)},
        "sf": 0.1,
    }


def test_small_suite_passes_through_unchanged():
    p = _payload(10)
    assert compact_payload(p) is p


def test_large_suite_truncates_to_slowest_max_queries():
    p = _payload(165)
    out = compact_payload(p)
    assert out["n_queries"] == 165
    assert len(out["queries"]) == 24
    # the parameter is honored, not a dead knob
    assert len(compact_payload(_payload(165), max_queries=10)["queries"]) == 10
    small = _payload(9)
    assert compact_payload(small, max_queries=10) is small
    kept_min = min(out["queries"].values())
    # Every kept entry is at least as slow as every dropped one.
    dropped = [
        v for k, v in p["queries"].items() if k not in out["queries"]
    ]
    assert all(v <= kept_min for v in dropped)
    # Schema keys the driver relies on survive.
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in out
    assert out["value"] == p["value"]
    # the pointer is an ABSOLUTE path (the one main() writes), not a
    # bare name a consumer would resolve against its own cwd
    assert os.path.isabs(out["full_per_query"])
    assert out["full_per_query"].endswith("bench_out.json")
    # an explicit full_path is passed through verbatim
    assert (
        compact_payload(_payload(165), full_path="/x/y.json")[
            "full_per_query"
        ]
        == "/x/y.json"
    )
    # loadavg stamps survive compaction when present
    stamped = _payload(165)
    stamped["loadavg_start"] = 1.23
    stamped["loadavg_end"] = 4.56
    c = compact_payload(stamped)
    assert c["loadavg_start"] == 1.23 and c["loadavg_end"] == 4.56


def test_compact_line_is_bounded_json():
    out = compact_payload(_payload(1000))
    line = json.dumps(out)
    assert len(line) < 2000
    assert json.loads(line)["n_queries"] == 1000


SCRIPTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "scripts")


def _script(name: str):
    """Import ``scripts/<name>.py`` as a module; ``main`` does not run."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        f"scripts_{name}", os.path.join(SCRIPTS, f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_ab_pairs_alternate_and_summarize():
    """``scripts/ab.py`` on canned ``perfbench/run.py`` stdout."""
    ab = _script("ab")
    assert [ab.order(p)[0] for p in range(3)] == ["base", "change", "base"]
    runs = []
    control = {"base": [0.2, 0.19, 0.19], "change": [0.25, 0.26, 0.25]}
    for pair, side, pass_s, suspect, failed in [
        (1, "base", 10.0, False, 0), (1, "change", 9.0, False, 0),
        (2, "base", 12.0, False, 0), (2, "change", 12.0, False, 1),
        (3, "base", 11.0, False, 0), (3, "change", 13.0, True, 0),
    ]:
        out = [{"stamp": {"nproc": 4, "suspect": suspect,
                          "control_s": control[side]}}]
        out += [{"failure": "op"}] * failed + [{
            "correct": not failed, "attempted": 10, "failed": failed,
            "metrics": {"pass_s": {"value": pass_s, "unit": "s"}},
        }]
        stdout = "\n".join(json.dumps(x) for x in out) + "\n"
        runs.append(dict(ab.parse_run(stdout), pair=pair, side=side))
    e2e = [{"name": "pass_s", "unit": "s", "better": "lower", "bound": 0.25}]
    row, base, change = ab.summarize(runs[::-1], e2e)
    assert row["base"] == {"q1": 10.5, "median": 11.0, "q3": 11.5}
    assert row["change"] == {"q1": 10.5, "median": 12.0, "q3": 12.5}
    assert row["ratio"] == round(12 / 11, 3)
    assert row["wins"] == "1/3"  # pair 1 won, pair 2 tied, pair 3 lost
    # a side slow from its first control reading is not flagged, but
    # its readings sit next to the flags
    assert base == {"side": "base", "suspect": [False] * 3,
                    "control_s": [control["base"]] * 3,
                    "correct": True, "failed": 0}
    assert change == {"side": "change", "suspect": [False, False, True],
                      "control_s": [control["change"]] * 3,
                      "correct": False, "failed": 1}


@pytest.mark.parametrize(
    "name", sorted(f[:-3] for f in os.listdir(SCRIPTS) if f.endswith(".py"))
)
def test_script_imports(name, monkeypatch):
    """Every script still imports against the library (several use
    private ``queries`` helpers), without running its ``main``. The
    scripts dir leads ``sys.path``, as when Python runs a script."""
    monkeypatch.syspath_prepend(SCRIPTS)
    _script(name)
