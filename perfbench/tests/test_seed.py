"""Seed determinism: same seed, byte-identical inputs; other seed,
other inputs."""

import itertools
import json

import pandas as pd
import pyarrow as pa

from perfbench import datagen
from perfbench.oracles import LedgerReplay
from perfbench.workloads import (
    COMMIT_KINDS,
    FOLD_POSITIONS,
    WAVE_EVENTS,
    CorpusDedup,
    LedgerOps,
    PortfolioRead,
    event_waves,
    initial_positions,
)


def _ledger_bytes(seed, n=40):
    ops = itertools.islice(iter(LedgerOps(seed)), n)
    return json.dumps(
        [(op.kind, {k: v for k, v in op.args.items()
                    if k in ("pids", "trades", "pid", "commit", "closed")})
         for op in ops]
    ).encode()


def test_trade_batches_repeat_for_a_seed_and_differ_across_seeds():
    assert _ledger_bytes(11) == _ledger_bytes(11)
    assert _ledger_bytes(11) != _ledger_bytes(12)


def test_commits_sit_at_the_same_places_for_every_seed():
    def layout(seed):
        return [op.kind if op.kind in COMMIT_KINDS or op.kind == "maintenance"
                else "read" for op in itertools.islice(iter(LedgerOps(seed)), 60)]

    assert layout(1) == layout(2) == layout(3)
    kinds = [op.kind for op in itertools.islice(iter(LedgerOps(1)), 60)]
    assert {"lookup", "read_version"} <= set(kinds)


def test_commit_batches_touch_each_position_once():
    for op in itertools.islice(iter(LedgerOps(3)), 60):
        if op.kind in COMMIT_KINDS:
            keys = [(p, s) for p, s, *_ in op.args["trades"]]
            assert len(keys) == len(set(keys))


def test_only_fold_commits_oversell_and_by_the_stated_count():
    gen = LedgerOps(4)
    kinds = set()
    for op in itertools.islice(iter(gen), 60):
        if op.kind not in COMMIT_KINDS:
            continue
        kinds.add(op.kind)
        before = LedgerReplay({
            p: gen.holdings_at(p, op.args["index"] - 1) for p in op.args["pids"]
        })
        oversold = sum(
            1 for p, s, side, n, _ in op.args["trades"]
            if side == "SELL" and n > before.positions[p].get(s, (0, 0.0))[0]
        )
        want = FOLD_POSITIONS if op.kind == "commit_fold" else 0
        assert oversold == op.args["fold_positions"] == want
    assert kinds == set(COMMIT_KINDS)


def test_time_travel_expectations_match_a_replay_of_the_prefix():
    gen = LedgerOps(6)
    trades = []
    for op in itertools.islice(iter(gen), 40):
        if op.kind in COMMIT_KINDS:
            trades.append(op.args["trades"])
        elif op.kind == "read_version":
            r = LedgerReplay(initial_positions(6))
            for batch in trades[: op.args["commit"]]:
                r.apply(batch)
            want = LedgerReplay({op.args["pid"]: r.positions[op.args["pid"]]})
            pd.testing.assert_frame_equal(op.args["expect"], want.frame())


def test_wave_splits_repeat_for_a_seed_and_differ_across_seeds():
    events = pd.DataFrame({"event_id": range(5 * WAVE_EVENTS)})

    def waves(seed, n=7):  # past one pass over the events
        return [w["event_id"].tolist() for w in itertools.islice(event_waves(events, seed), n)]

    assert waves(1) == waves(1)
    assert waves(1) != waves(2)
    first_pass = sorted(x for w in waves(1, 5) for x in w)
    assert first_pass == list(range(5 * WAVE_EVENTS))


def _order(cls, seed, n=24):
    w = cls(seed, "unused", "unused")
    return [json.dumps(op.args, sort_keys=True) for op in itertools.islice(w.ops(), n)]


def test_request_and_pass_orders_follow_the_seed():
    for cls in (PortfolioRead, CorpusDedup):
        assert _order(cls, 5) == _order(cls, 5)
        assert _order(cls, 5) != _order(cls, 6)


def test_generated_tables_are_a_function_of_the_data_seed():
    def digest(seed):
        out = []
        for name, t in datagen.build_tables(seed).items():
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, t.schema) as w:
                w.write_table(t)
            out.append((name, sink.getvalue().to_pybytes()))
        return out

    a = digest(datagen.DATA_SEED)
    assert a == digest(datagen.DATA_SEED)
    assert a != digest(datagen.DATA_SEED + 1)
