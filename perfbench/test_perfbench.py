"""Self-tests of the benchmark: the percentile rule, the self-time
arithmetic, seeded inputs, and that every correctness gate rejects a
wrong result.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
import threading
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

from perfbench import catalog_wl, common, datagen, layers, run, spark_wl
from perfbench.trace import self_times, union_length

ROOT = common.ROOT


# ------------------------------------------------------------ percentiles

def test_tail_takes_highest_rung_with_ten_samples_beyond():
    xs = list(range(1, 1001))
    t = common.tail(xs)
    assert (t["pct"], t["beyond"], t["value"]) == (99.0, 10, 990)
    t = common.tail(xs[:999])
    assert (t["pct"], t["beyond"]) == (95.0, 49)


def test_tail_never_reports_a_rung_with_fewer_than_ten_beyond():
    for n in range(1, 400):
        t = common.tail(list(range(n)))
        if t["ok"]:
            assert t["beyond"] >= common.TAIL_MIN_BEYOND
        else:
            assert n < 40 and t["value"] == common.median(list(range(n)))


def test_tail_rung_follows_the_guaranteed_count():
    xs = [float(x) for x in range(1500)]
    assert common.tail(xs)["pct"] == 99.0
    t = common.tail(xs, guaranteed=500)
    assert t["pct"] == 95.0 and t["beyond"] == 75


def test_median_and_percentile():
    assert common.median([3, 1, 2, 4]) == 2.5
    assert common.percentile([5, 1, 4, 2, 3], 50) == 3


# -------------------------------------------------------------- self time

def span(sid, parent, start, end, layer="l"):
    return [sid, parent, None, layer, "x", start, end, None]


def test_self_time_subtracts_covered_part_of_children_once():
    spans = [
        span("a", None, 0.0, 10.0),
        span("b", "a", 1.0, 3.0),
        span("c", "a", 2.0, 5.0),   # overlaps b: counted once
        span("d", "a", 8.0, 12.0),  # runs past the parent: clipped
        span("e", "b", 1.5, 2.0),
    ]
    st = self_times(spans)
    assert st["a"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st["b"] == pytest.approx(1.5)
    assert st["e"] == pytest.approx(0.5)
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_layer_self_times_sum_to_no_more_than_op_wall():
    from perfbench.trace import layer_self_ms

    spans = [
        span("op", None, 0.0, 1.0, "generator"),
        span("c", "op", 0.1, 0.9, "client"),
        span("s", "c", 0.2, 0.8, "server"),
        span("st", "s", 0.3, 0.5, "store"),
        span("orphan", None, 5.0, 6.0, "client"),
    ]
    by_layer = layer_self_ms(spans, "generator")
    assert sum(by_layer.values()) == pytest.approx(1000.0)
    assert by_layer["store"] == pytest.approx(200.0)
    assert "client" in by_layer and by_layer["client"] == pytest.approx(200.0)


def fake_window(ops, wall_s):
    w = SimpleNamespace(t0=0.0, t1=wall_s, wall_s=wall_s, cpu_s=0.5, steal=0.0,
                        generator_cpu_share=0.5, bytes_added=0)
    return {"ops": ops, "w": w, "errors": [], "server_cpu_s": None}


def test_trace_gate_fails_when_self_times_exceed_op_wall():
    good = [
        span("op", None, 0.0, 1.0, "generator"),
        span("c", "op", 0.1, 0.9, "client"),
    ]
    traced = fake_window(1, 1.0)
    _, record, _ = run.trace_metrics(good, traced, fake_window(1, 1.0), one_op_at_a_time=False)
    assert record["trace"]["self_sum_le_wall"] and traced["errors"] == []
    # a child that runs past its op: its self time is not covered by the op
    bad = [
        span("op", None, 0.0, 1.0, "generator"),
        span("c", "op", 0.5, 1.8, "client"),
    ]
    traced = fake_window(1, 1.0)
    _, record, _ = run.trace_metrics(bad, traced, fake_window(1, 1.0), one_op_at_a_time=False)
    assert not record["trace"]["self_sum_le_wall"]
    assert traced["errors"] == ["layer self times sum to more than the op wall time"]


# ----------------------------------------------------------- seeded inputs

def test_catalog_cycle_is_seeded_and_keeps_its_mix():
    a, b, c = (catalog_wl.op_cycle(s, 0) for s in (1, 1, 2))
    assert a == b
    assert a != c
    count = lambda ops: sorted((k, sum(1 for o in ops if o[0] == k)) for k in {o[0] for o in ops})
    assert count(a) == count(c)
    own = {i for i in range(catalog_wl.N_TABLES) if i % catalog_wl.CONNECTIONS == 0}
    writes = [o for o in a if o[0] in ("set_properties", "cas_snapshot")]
    assert writes and all(o[1] in own for o in writes)


def test_commit_chain_snapshots_are_seeded():
    def chain(seed):
        rng = random.Random(f"commit-chain/{seed}/0")
        return [catalog_wl.snapshot(rng, None, i)["snapshot-id"] for i in range(5)]

    assert chain(1) == chain(1)
    assert chain(1) != chain(2)


def test_lineitem_slices_are_seeded(tmp_path):
    def slices(seed, sub):
        out = datagen.lineitem_slices(str(tmp_path / sub), 2, 400, seed)
        return [(x["rows"], x["quantity"], pq.read_table(x["path"]).to_pandas().to_json())
                for x in out]

    assert slices(5, "a") == slices(5, "b")
    assert slices(5, "a") != slices(6, "c")


# ------------------------------------------------------------------ gates

def ledger_with(history):
    led = catalog_wl.Ledger()
    for loc in history:
        led.ack(7, loc)
    return led


def test_read_gate_accepts_fresh_reads():
    led = ledger_with(["m0", "m1"])
    led.reads.append((7, next(led.seq), "m1"))
    assert catalog_wl.check_reads(led) == []


def test_read_gate_rejects_a_stale_read():
    led = ledger_with(["m0", "m1"])
    led.reads.append((7, next(led.seq), "m0"))
    assert catalog_wl.check_reads(led)


def test_read_gate_rejects_a_location_never_acknowledged():
    led = ledger_with(["m0"])
    led.reads.append((7, next(led.seq), "from-a-failed-commit"))
    assert catalog_wl.check_reads(led)


def test_read_gate_allows_a_write_in_flight_but_not_an_older_one():
    led = ledger_with(["m0", "m1"])
    start = next(led.seq)
    led.ack(7, "m2")  # acknowledged while the read ran
    led.reads += [(7, start, "m2"), (7, start, "m1")]
    assert catalog_wl.check_reads(led) == []
    led.ack(7, None)  # a transaction: location unknown
    late = next(led.seq)
    led.reads.append((7, late, "m-from-transaction"))
    assert catalog_wl.check_reads(led) == []
    led.reads.append((7, late, "m0"))
    assert len(catalog_wl.check_reads(led)) == 1


def test_read_gate_holds_under_concurrent_writers_and_readers():
    """Owners ack writes while other threads read: a correct catalog
    must never trip the gate, however the threads interleave."""
    led = catalog_wl.Ledger()
    state: dict[int, str] = {}
    for t in range(8):
        state[t] = f"t{t}-v0"
        led.ack(t, state[t])

    def owner(t):
        for v in range(1, 150):
            state[t] = f"t{t}-v{v}"  # the server applies the commit...
            led.ack(t, state[t])      # ...then the client sees the ack

    def reader(seed):
        rng = random.Random(seed)
        for _ in range(2000):
            t = rng.randrange(8)
            start = next(led.seq)
            led.reads.append((t, start, state[t]))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=owner, args=(t,)) for t in range(8)]
        threads += [threading.Thread(target=reader, args=(s,)) for s in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
        assert not any(th.is_alive() for th in threads)
    finally:
        sys.setswitchinterval(old)
    assert len(led.reads) == 8 * 2000
    assert catalog_wl.check_reads(led) == []


def linear_chain(n):
    snaps, parent = [], None
    for i in range(n):
        snaps.append({"snapshot-id": 100 + i, "parent-snapshot-id": parent})
        parent = 100 + i
    return {"snapshots": snaps, "refs": {"main": {"snapshot-id": parent}},
            "current-snapshot-id": parent}


def test_chain_gate_accepts_a_linear_chain():
    meta = linear_chain(5)
    assert catalog_wl.check_chain(meta, json.loads(json.dumps(meta)), 5) == []


def test_chain_gate_rejects_wrong_count_broken_parents_and_disk_mismatch():
    meta = linear_chain(5)
    assert catalog_wl.check_chain(meta, meta, 6)
    broken = linear_chain(5)
    broken["snapshots"][3]["parent-snapshot-id"] = 999
    assert catalog_wl.check_chain(broken, broken, 5)
    on_disk = linear_chain(5)
    on_disk["current-snapshot-id"] = 100
    assert catalog_wl.check_chain(meta, on_disk, 5)


def test_lakehouse_gate():
    assert spark_wl.check_totals(10, 55.0, 10, 55.0, "op") == []
    assert spark_wl.check_totals(9, 55.0, 10, 55.0, "op")
    assert spark_wl.check_totals(10, 54.0, 10, 55.0, "op")
    assert spark_wl.check_totals(10, None, 10, 55.0, "op")


# ------------------------------------------------------------ the contract

def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == layers.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_run_fails_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "catalog-rest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_warm_up_stops_once_rounds_stop_improving(monkeypatch):
    # each round reads the clock twice: start, then end
    clock = iter([0.0, 5.0, 0.0, 3.0, 0.0, 2.0, 0.0, 1.99, 0.0, 0.5])
    monkeypatch.setattr(common.time, "monotonic", lambda: next(clock))
    assert common.warm_until_steady(lambda: None, 10) == [5.0, 3.0, 2.0, 1.99]
    clock = iter([0.0, 5.0, 0.0, 3.0])
    assert common.warm_until_steady(lambda: None, 1) == [5.0]
