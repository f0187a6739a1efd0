"""Tests of the benchmark's own code (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import types

import pytest

from perfbench import gen
from perfbench.layers import unit_of
from perfbench.spans import Span, Tracer, covered, innermost, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _files(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


@pytest.mark.parametrize("workload", sorted(gen.BUILDERS))
def test_generator_is_seeded_with_a_fixed_shape(workload, tmp_path):
    build = gen.BUILDERS[workload]
    a = build(3, str(tmp_path / "a"))
    b = build(3, str(tmp_path / "b"))
    c = build(4, str(tmp_path / "c"))
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert a.props == b.props and a.planted == b.planted
    assert _files(tmp_path / "a").keys() == _files(tmp_path / "c").keys()
    assert _files(tmp_path / "a") != _files(tmp_path / "c")
    assert a.columns == c.columns
    for k in ("tables", "rows", "num_cols", "text_cols", "date_cols", "dup_share"):
        assert a.props[k] == c.props[k]


def test_documents_plant_the_stated_share(tmp_path):
    inp = gen.documents_inputs(5, str(tmp_path))
    assert len(inp.planted) == int(gen.DOCS * gen.DOC_DUP_SHARE)
    assert all(a < b for a, b in inp.planted)
    assert inp.props["dup_share"] == gen.DOC_DUP_SHARE


def _span(name, start, end, parent=None):
    return Span(name, start, end, parent, "p")


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 4.0, 0),
        _span("b", 3.0, 6.0, 0),  # overlaps a: covered once
        _span("a.x", 2.0, 3.0, 1),
        _span("late", 9.0, 12.0, 0),  # clipped to the parent's end
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 1, 2.0, 3.0, 1.0, 3.0])


def test_covered_and_innermost():
    assert covered([]) == 0.0
    assert covered([(0, 1), (2, 3), (0.5, 2.5)]) == pytest.approx(3.0)
    spans = [_span("root", 0, 10), _span("mid", 2, 8, 0), _span("leaf", 3, 4, 1)]
    assert innermost(spans, 3.5) == 2
    assert innermost(spans, 5.0) == 1
    assert innermost(spans, 9.0) == 0
    assert innermost(spans, 11.0) is None


def test_tracer_nests_wraps_and_restores():
    mod = types.SimpleNamespace(f=lambda x: mod.g(x) + 1, g=lambda x: x * 2)
    orig_f, orig_g = mod.f, mod.g
    tr = Tracer()
    tr.pass_id = "p1"
    seen = []
    with tr.patched([(mod, "f", "m.f"), (mod, "g", "m.g", lambda s, r, a: seen.append(r))]):
        with tr.span("step"):
            assert mod.f(3) == 7
        tr.enabled = False
        assert mod.f(1) == 3
    assert (mod.f, mod.g) == (orig_f, orig_g)
    assert [(s.name, s.parent, s.pass_id) for s in tr.spans] == [
        ("step", None, "p1"), ("m.f", 0, "p1"), ("m.g", 1, "p1"),
    ]
    assert seen == [6, 2]
    assert all(s.end >= s.start for s in tr.spans)


NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def test_benchmark_json_names_and_units():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.fullmatch(m["name"]), m["name"]
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in bench["per_layer"]:
        assert unit_of(m["name"]) == m["unit"], m
    assert {w["name"] for w in bench["workloads"]} <= set(gen.BUILDERS)
    with open(os.path.join(ROOT, "perfbench", "README.md"), encoding="utf-8") as f:
        readme = f.read()
    for m in bench["per_layer"]:
        assert f"`{m['name']}`" in readme, f"{m['name']} not described in README"
