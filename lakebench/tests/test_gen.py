"""Determinism and shape of the benchmark's inputs; no Spark needed.

    python3 -m pytest lakebench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import probe  # noqa: E402


def test_same_seed_same_bytes():
    for make in (
        lambda s: gen.lifecycle_plan(s, 3, 120, 2),
        lambda s: gen.serving_plan(s, 120, 3, 200),
    ):
        assert gen.plan_bytes(make(7)) == gen.plan_bytes(make(7))
        assert gen.plan_bytes(make(7)) != gen.plan_bytes(make(8))


def test_payloads_serialize_identically():
    a = gen.lifecycle_plan(3, 3, 50, 2)["batches"]
    b = gen.lifecycle_plan(3, 3, 50, 2)["batches"]
    assert [json.dumps(r) for x in a for r in x.records] == [json.dumps(r) for x in b for r in x.records]


def _breaks_rule(data_type: str, rec: dict) -> bool:
    # a Python mirror of gen.RULES
    if data_type == "sales":
        return rec["total"] < 0
    if data_type == "customers":
        return "@" not in rec["email"]
    return not 0 <= rec["cpu"] <= 100


def test_exactly_the_planned_rows_break_the_rule():
    for b in gen.serving_plan(5, 120, 1, 10)["batches"]:
        broken = {i for i, r in enumerate(b.records) if _breaks_rule(b.data_type, r)}
        assert broken == b.bad
        assert len(b.bad) == gen.bad_rows(120)


def test_fresh_token_belongs_to_one_cycle():
    batches = gen.lifecycle_plan(11, 4, 60, 2)["batches"]
    for b in batches:
        tok = gen.fresh_token(b.cycle)
        for other in batches:
            assert all((tok in gen.tokens(json.dumps(r))) == (other is b) for r in other.records)


def test_model_accepts_only_the_right_count():
    b = gen.lifecycle_plan(1, 1, 40, 2)["batches"][0]
    m = gen.LakeModel()
    assert not m.accept(b, ["x"])
    ids = [f"id{i}" for i in range(len(b.accepted))]
    assert m.accept(b, ids)
    assert m.ids_with_token(gen.fresh_token(0)) == set(ids)


def test_rounds_call_each_kind_once():
    plan = gen.lifecycle_plan(2, 3, 60, 2)
    for c, rounds in enumerate(plan["reads"]):
        assert len(rounds) == (2 if c else 0)
        for r in rounds:
            assert sorted(op[0] for op in r) == sorted(gen.LIFECYCLE_ROUND)
            # tf and bm25 of a round search one word
            assert len({op[1] for op in r if op[0] in ("search_tf", "search_bm25")}) == 1
    for r in gen.serving_plan(2, 60, 3, 20)["rounds"]:
        assert sorted(op[0] for op in r) == sorted(gen.SERVING_ROUND)


def test_tail_needs_ten_samples_beyond():
    assert probe.tail([1.0, 2.0, 3.0]) == (2.0, 50)
    xs = [float(i) for i in range(1, 101)]
    assert probe.tail(xs) == (90.0, 90)


def test_covered_merges_overlaps():
    assert probe.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert probe.covered([(0, 2)], 1, 10) == 1


def test_benchmark_json_matches_runner():
    import run

    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.layer_units()
