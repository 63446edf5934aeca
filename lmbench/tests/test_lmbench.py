"""Self-tests of the benchmark.  Run from the checkout root:

    python3 -m pytest lmbench/tests -q

The smoke test starts Spark six times at the tiny scale (a few minutes).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time

import pyarrow as pa
import pyarrow.compute as pc
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "lmbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


# ------------------------------------------------------------------ smoke

@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_emits_every_declared_metric(workload, trace):
    spec = _spec()
    declared = {m["name"]: m["unit"]
                for m in spec["per_layer" if trace else "end_to_end"]}
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", str(trace), "--scale", "tiny"])
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared
    for v in out["metrics"].values():
        assert isinstance(v["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_refuses_to_run_without_the_program():
    bare = os.path.join(ROOT, ".lmbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH, os.path.join(bare, "lmbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "agg_flagship", "--seed", "1", "--seconds", "1",
              "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_benchmark_json_matches_the_runner():
    import run

    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


# ------------------------------------------------------------------ spans

def test_spans_nest_and_self_times_are_not_negative():
    t = spans.Tracer("test")
    with t.span("root") as root:
        t.root = root.id
        time.sleep(0.01)
        with t.span("child"):
            time.sleep(0.02)
            with t.span("grandchild"):
                time.sleep(0.01)
        worker = threading.Thread(target=lambda: t.span("other-thread").__enter__()
                                  .__exit__(None, None, None))
        worker.start()
        worker.join(timeout=10)
        assert not worker.is_alive()
    by = {s.name: s for s in t.spans}
    assert by["child"].parent == by["root"].id
    assert by["grandchild"].parent == by["child"].id
    assert by["other-thread"].parent == by["root"].id
    for s in t.spans:
        parent = next((p for p in t.spans if p.id == s.parent), None)
        if parent is not None:
            assert parent.start <= s.start <= s.end <= parent.end
        assert spans.self_time(s, t.spans) >= 0
    assert spans.self_time(by["child"], t.spans) == pytest.approx(
        by["child"].secs - by["grandchild"].secs)
    assert all(d["self_secs"] >= 0 for d in t.dump())


def test_wrap_records_a_span_and_unwrap_restores():
    import types

    mod = types.ModuleType("fake_layer")
    mod.call = lambda x: x + 1
    orig = mod.call
    t = spans.Tracer("test")
    t.wrap(mod, "call", "fake.call")
    assert mod.call(1) == 2
    t.unwrap_all()
    assert mod.call is orig
    assert [s.name for s in t.spans] == ["fake.call"]


# ------------------------------------------------------------------ generator

def test_generator_is_seeded():
    a, b, c = gen.token_table(5, 200), gen.token_table(5, 200), gen.token_table(6, 200)
    assert a.equals(b) and not a.equals(c)
    assert oracle.lines(a)[0].encode() == bytes(a.column("tokens")[0].as_py())


def test_increments_redeliver_the_stated_share():
    incs = gen.increments(5, 3, 100, 0.2)
    for prev, cur in zip(incs, incs[1:]):
        again = set(prev.column("doc_id").to_pylist()) & set(cur.column("doc_id").to_pylist())
        assert len(again) == 20
        assert pc.min(cur.column("version")).as_py() > pc.max(prev.column("version")).as_py()


# ------------------------------------------------------------------ oracles

def _change_one_token(table: pa.Table, row: int) -> pa.Table:
    toks = table.column("tokens").to_pylist()
    toks[row] = [toks[row][0] ^ 1] + toks[row][1:]
    return table.set_column(table.schema.get_field_index("tokens"), "tokens",
                            pa.array(toks, table.schema.field("tokens").type))


def test_agg_oracle_fails_on_perturbed_output():
    ref = oracle.agg_reference(gen.token_table(7, 400))
    rows = [(*k, *v) for k, v in ref.items()]
    assert oracle.check_agg(rows, ref) == []
    assert oracle.check_agg(rows[1:], ref)                       # a group dropped
    dropped_row = [(*rows[0][:3], rows[0][3] - 1, rows[0][4] - 9)] + rows[1:]
    assert oracle.check_agg(dropped_row, ref)                    # one row dropped
    one_token = [(*rows[0][:4], rows[0][4] + 1)] + rows[1:]
    assert oracle.check_agg(one_token, ref)                      # one token more


def _routed_outputs(table: pa.Table):
    sinks = [oracle.sink_of(oracle.classify(line)[0]) for line in oracle.lines(table)]
    tables = {s: table.filter(pa.array([x == s for x in sinks]))
              for s in ("web", "firewall")}
    um = table.filter(pa.array([x == "unmatched" for x in sinks]))
    text = {f"{d} {n}": 1 for d, n in zip(um.column("doc_id").to_pylist(),
                                          um.column("n_tok").to_pylist())}
    return tables, text


def test_routed_oracle_fails_on_perturbed_output():
    from collections import Counter

    table = gen.token_table(7, 600)
    ref = oracle.routed_reference(table)
    tables, text = _routed_outputs(table)
    assert oracle.check_routed(oracle.routed_observed(tables, Counter(text)), ref) == []
    dropped = dict(tables, web=tables["web"].slice(1))
    assert oracle.check_routed(oracle.routed_observed(dropped, Counter(text)), ref)
    changed = dict(tables, firewall=_change_one_token(tables["firewall"], 0))
    assert oracle.check_routed(oracle.routed_observed(changed, Counter(text)), ref)
    short = Counter(dict(list(text.items())[1:]))
    assert oracle.check_routed(oracle.routed_observed(tables, short), ref)


def test_merge_oracle_fails_on_perturbed_output():
    incs = gen.increments(7, 3, 200, 0.2)
    ref = oracle.merge_reference(incs)
    latest = {}
    for t in incs:
        for i, d in enumerate(t.column("doc_id").to_pylist()):
            latest[d] = (t, i)
    snap = pa.concat_tables([t.slice(i, 1) for t, i in latest.values()])
    assert oracle.check_merge(snap, ref) == []
    assert oracle.check_merge(snap.slice(1), ref)                 # one row dropped
    assert oracle.check_merge(_change_one_token(snap, 0), ref)    # one token changed
    first = incs[0].column("doc_id").to_pylist()
    again = next(d for d in incs[1].column("doc_id").to_pylist() if d in set(first))
    stale = pa.concat_tables([incs[0].slice(first.index(again), 1), snap.filter(
        pc.not_equal(snap.column("doc_id"), again))])
    assert oracle.check_merge(stale, ref)                         # old version kept
