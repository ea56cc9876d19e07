"""The benchmark's workloads: seeded inputs, the timed ops, the checks.

Each workload is a closed loop with one client: an op is issued only
after the previous one returned, the way a user waits for a page.

* ``portfolio_read`` - dashboard page views: each requests every
  registered read shape once (plan build, then ``collect``), in a
  seeded order.
* ``trade_ledger`` - a holdings ``TxnLogTable`` under seeded trade
  commits, snapshot reads and periodic compact + vacuum.
* ``corpus_dedup`` - passes of the six dedup / entity-resolution
  stages over the document corpus, stage order seeded per pass.
* ``event_stream`` - seeded waves of events appended to a feed
  ``TxnLogTable``, each followed by one ``availableNow`` trigger of two
  streaming consumers that read the feed with ``format("txnlog")``.

The seed chooses every input; the engine only sees the generated rows.
"""

from __future__ import annotations

import collections
import datetime as dt
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from . import datagen, oracles, stats
from .oracles import HOLDING_COLUMNS, LedgerReplay

PORTFOLIO_SHAPES = [
    "a1_pricing_summary",
    "w2_returns_panel",
    "stats_bundle_cov_beta",
    "a5_correlation_matrix",
    "j7_asof_latest",
    "j7_a7_market_value",
    "u1_linreg_fit",
    "e10_forecast_horizon",
]
DEDUP_STAGES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_cluster_components",
    "er_resolve_entities",
    "dedup_embedding_cosine",
    "ann_ivf_topk",
]


@dataclass
class Op:
    kind: str
    args: dict = field(default_factory=dict)


@dataclass
class Context:
    """What an op needs at run time."""

    spark: object
    tracer: object
    data_dir: str


def run_plan(ctx: Context, name: str) -> tuple[list[str], list]:
    """Build a registered plan and consume its rows, as a page does."""
    from relational_query_engine_sql_spark.plans.registry import get

    with ctx.tracer.span("plans.build", layer="plans", query=name):
        df = get(name).fn(ctx.spark, ctx.data_dir)
    with ctx.tracer.span("spark.collect", layer="spark"):
        rows = df.collect()
    return df.columns, rows


def _latency(prefix: str, xs: list[float]) -> dict:
    s = stats.summary(xs)
    return {
        f"{prefix}_p50_s": s["p50_s"],
        f"{prefix}_tail_s": s["tail_s"],
        f"{prefix}_tail_percentile": s["tail_percentile"],
        f"{prefix}_samples": s["samples"],
    }


def rows_frame(columns: list[str], rows) -> pd.DataFrame:
    return pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)


class Workload:
    """Interface every workload implements."""

    name = ""
    primary_op = ""  # the op op_p50_s describes
    needs_tables = True
    # whole-state checks after the loop, counted as attempted ops
    final_checks = 0

    def __init__(self, seed: int, data_dir: str, work_dir: str):
        self.seed = seed
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.items = 0

    def prepare(self) -> None:
        """Benchmark-side input work, outside set-up time."""

    def stage(self, setup: int) -> None:
        """Benchmark-side work before set-up number ``setup``, untimed."""

    def register(self, ctx: Context, setup: int) -> None:
        """Table registration for set-up number ``setup`` (timed)."""

    def warm_up(self, ctx: Context) -> None:
        """Run every op shape once so later ops see a warm JVM."""

    def ops(self):
        """The measured op sequence (infinite, seeded)."""
        raise NotImplementedError

    def execute(self, ctx: Context, op: Op) -> int:
        """The timed region of one op; returns the rows it produced."""
        raise NotImplementedError

    def after_op(self, ctx: Context, op: Op) -> None:
        """Untimed bookkeeping after an op: checks its result against
        the oracle and drops the rows, so the driver process holds no
        result rows while the loop runs."""

    def round_done(self, op: Op) -> bool:
        """May the loop stop after ``op``?  Workloads whose ops come in
        seeded rounds stop only at a round's end, so every run measures
        the same mix."""
        return True

    def check(self, ctx: Context) -> list[str]:
        """Failures found by the oracle: those ``after_op`` recorded
        plus the whole-state checks after the loop."""
        return []

    def details(self, ctx: Context) -> dict:
        """Workload figures computed after the loop."""
        return {}

    def named_metrics(self, latency: dict[str, list[float]], per_s: float) -> dict:
        """The end-to-end figures under this workload's own names."""
        raise NotImplementedError

    def traced_details(self, ctx: Context, records: list[dict]) -> dict:
        """Extra per-layer figures a traced run records after the loop,
        given the per-op trace ``records``."""
        return {}


class PlanWorkload(Workload):
    """Runs registered plans and checks each result against the
    registry's DuckDB oracle.  One op calls every shape once, in an
    order the seed chooses per op."""

    shapes: list[str] = []
    tables: list[str] = []
    items_per_op = 0
    call_layer = ""  # layer of the span around each plan call

    def __init__(self, seed, data_dir, work_dir):
        super().__init__(seed, data_dir, work_dir)
        self.pending: list[tuple[str, list[str], list]] = []
        self.problems: list[str] = []
        self.expected: dict[str, str] = {}
        self.call_s: dict[str, list[float]] = collections.defaultdict(list)

    def call_span(self, name: str) -> str:
        raise NotImplementedError

    def prepare(self) -> None:
        self.expected = oracles.oracle_hashes(self.data_dir, self.shapes)

    def register(self, ctx, setup):
        from relational_query_engine_sql_spark.sources.catalog import (
            register_views,
        )

        register_views(ctx.spark, self.data_dir, self.tables)

    def warm_up(self, ctx):
        for name in self.shapes:
            run_plan(ctx, name)

    def ops(self):
        rng = random.Random(self.seed)
        while True:
            order = list(self.shapes)
            rng.shuffle(order)
            yield Op(self.primary_op, {"order": order})

    def execute(self, ctx, op):
        n = 0
        for name in op.args["order"]:
            t0 = time.perf_counter()
            with ctx.tracer.span(self.call_span(name), layer=self.call_layer):
                cols, rows = run_plan(ctx, name)
            self.call_s[name].append(time.perf_counter() - t0)
            self.pending.append((name, cols, rows))
            n += len(rows)
        self.items += self.items_per_op
        return n

    def after_op(self, ctx, op):
        for name, cols, rows in self.pending:
            if oracles.result_hash(rows_frame(cols, rows)) != self.expected[name]:
                self.problems.append(f"{name}: result differs from the DuckDB oracle")
        self.pending.clear()

    def check(self, ctx):
        return self.problems


class PortfolioRead(PlanWorkload):
    """A page view requests every dashboard read shape once.  Requests
    are timed one by one (``request_*``), but the gated latency is per
    page: the shapes' costs differ fourfold, so a p50 over requests
    jumps between shapes from run to run."""

    name = "portfolio_read"
    primary_op = "page"
    shapes = PORTFOLIO_SHAPES
    tables = ["lineitem", "orders", "customer", "nation", "region", "events"]
    items_per_op = len(PORTFOLIO_SHAPES)
    call_layer = "request"

    def call_span(self, name):
        return "request"

    def details(self, ctx):
        return {f"request.{k}_s": stats.median(v) for k, v in self.call_s.items()}

    def named_metrics(self, latency, per_s):
        requests = [x for xs in self.call_s.values() for x in xs]
        return {
            **_latency("page", latency["page"]),
            **_latency("request", requests),
            "requests_per_s": per_s,
        }


class CorpusDedup(PlanWorkload):
    name = "corpus_dedup"
    primary_op = "pass"
    shapes = DEDUP_STAGES
    tables = ["documents", "embeddings", "part"]
    items_per_op = datagen.N_DOCS
    call_layer = "datapipe"

    def call_span(self, name):
        return f"datapipe.{name}"

    def details(self, ctx):
        return {f"datapipe.{k}_s": stats.median(v) for k, v in self.call_s.items()}

    def named_metrics(self, latency, per_s):
        return {**_latency("pass", latency["pass"]), "docs_per_s": per_s}

    def traced_details(self, ctx, records):
        from relational_query_engine_sql_spark.datapipe.dedup import (
            lsh_candidates,
            minhash_lsh_dedup,
            minhash_signature,
            shingles,
        )
        from relational_query_engine_sql_spark.plans.queries_text import (
            JACCARD_THRESHOLD,
        )
        from relational_query_engine_sql_spark.sources.catalog import load_table

        docs = load_table(ctx.spark, self.data_dir, "documents")
        cand = lsh_candidates(minhash_signature(shingles(docs))).count()
        verified = minhash_lsh_dedup(docs, threshold=JACCARD_THRESHOLD).count()
        return {
            "datapipe.lsh_candidate_pairs": cand,
            "datapipe.lsh_verified_pairs": verified,
            "datapipe.lsh_pair_precision": verified / cand if cand else 0.0,
        }


# -- trade_ledger -----------------------------------------------------------
#
# The reference serves one trade per request (POST buy / sell,
# trading.js:43-115 and :150-230) and rejects a sell of more shares than
# are held (trading.js:174-183).  It publishes no traffic, so the batch
# a commit applies is an assumption, stated here and in README.md:
#
# * a commit is the requests of BATCH_PORTFOLIOS portfolios, one trade
#   on each of TRADES_PER_PORTFOLIO symbols, so no position sees two
#   trades in one batch;
# * a held position is sold with probability SELL_SHARE, a third of the
#   sells closing it; an unheld one is bought;
# * a ``commit`` sends no oversell, so every position takes
#   apply_trades' closed-form path; a ``commit_fold`` replaces the trade
#   of FOLD_POSITIONS positions with an oversell, which the reference
#   rejects and apply_trades routes to its Python fold.  A round has
#   twelve of the first and one of the second, so both sides of the
#   routing are measured; the share of positions that reach the fold
#   is reported (``fold_share``).

N_PORTFOLIOS = 2_000
N_SYMBOLS = 200
HELD_PER_PORTFOLIO = 50  # 100k positions
BATCH_PORTFOLIOS = 8
TRADES_PER_PORTFOLIO = 10
SELL_SHARE = 0.5
FOLD_POSITIONS = 8  # of BATCH_PORTFOLIOS * TRADES_PER_PORTFOLIO
# one round of the closed loop: two cycles, each followed by compact +
# vacuum, the first ending with a commit_fold.  A commit's cost grows
# with the files added since the last compaction, so the layout is
# fixed: each commit sits at the same place in every run.  The seed
# fills each "read" slot with one of READS, in a seeded order, and
# chooses every op's contents.
CYCLE = ["commit", "read", "commit", "read", "commit", "read", "commit",
         "commit", "commit"]
READS = ["lookup", "lookup", "read_version"]
COMMIT_KINDS = ("commit", "commit_fold")
TIME_TRAVEL_BACK = 2  # a time-travel read goes back 1 or 2 commits
TABLE_FILES = 16
KEEP_VERSIONS = 8
SYMBOLS = [f"S{i:03d}" for i in range(N_SYMBOLS)]
TRADE_SCHEMA = (
    "portfolioid int, symbol string, side string, shares int, "
    "price double, ts timestamp"
)
T0 = dt.datetime(2024, 1, 2, 9, 30)


def initial_positions(seed: int) -> dict[int, dict[str, tuple[int, float]]]:
    """About 100k seeded positions: ``portfolioid -> {symbol: (shares,
    avgprice)}``."""
    rng = random.Random(seed * 7919 + 1)
    return {
        pid: {
            SYMBOLS[s]: (rng.randint(1, 500), round(rng.uniform(5.0, 500.0), 4))
            for s in rng.sample(range(N_SYMBOLS), HELD_PER_PORTFOLIO)
        }
        for pid in range(N_PORTFOLIOS)
    }


class LedgerOps:
    """The seeded op log and the oracle state that goes with it.

    Ops are generated lazily, one at a time, so a run consumes a prefix
    whose length depends on speed while its content depends only on the
    seed.  The generator owns a :class:`LedgerReplay`: each commit is
    applied to it when generated, so a read's expected rows are the
    replay's state at that point of the log.  Commit 0 is the initial
    load.  For time travel it keeps, per portfolio, the holdings after
    each commit that changed it, not whole snapshots.
    """

    # warm-up: every op kind, and a commit after compaction, so measured
    # ops start JIT-warm and time travel can go back two commits
    PROLOGUE = ["commit_fold", "commit", "lookup", "read_version",
                "maintenance", "commit"]

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.replay = LedgerReplay(initial_positions(seed))
        self.commits = 0
        # portfolioid -> [(commit index, holdings after it)]
        self.changes: dict[int, list[tuple[int, dict]]] = {}

    def __iter__(self):
        for kind in self.PROLOGUE:
            yield self._make(kind)
        while True:
            for fold in (True, False):
                reads = list(READS)
                self.rng.shuffle(reads)
                for kind in CYCLE:
                    yield self._make(reads.pop() if kind == "read" else kind)
                if fold:
                    yield self._make("commit_fold")
                yield Op("maintenance", {"last": not fold})

    def holdings_at(self, pid: int, commit: int) -> dict:
        for c, h in reversed(self.changes.get(pid, [])):
            if c <= commit:
                return h
        return self.replay.positions[pid]

    def _make(self, kind: str) -> Op:
        rng = self.rng
        if kind == "maintenance":
            return Op("maintenance", {"last": False})
        if kind == "lookup":
            pid = rng.randrange(N_PORTFOLIOS)
            return Op("lookup", {"pid": pid, "expect": self.replay.frame([pid])})
        if kind == "read_version":
            commit = self.commits - rng.randint(1, min(TIME_TRAVEL_BACK, self.commits))
            pid = rng.randrange(N_PORTFOLIOS)
            return Op("read_version", {
                "pid": pid, "commit": commit,
                "expect": LedgerReplay({pid: self.holdings_at(pid, commit)}).frame(),
            })
        return self._commit(kind)

    def _commit(self, kind: str) -> Op:
        rng = self.rng
        pids = rng.sample(range(N_PORTFOLIOS), BATCH_PORTFOLIOS)
        trades = []
        for pid in pids:
            held_now = self.replay.positions[pid]
            for s in rng.sample(range(N_SYMBOLS), TRADES_PER_PORTFOLIO):
                sym = SYMBOLS[s]
                held = held_now.get(sym, (0, 0.0))[0]
                price = round(rng.uniform(5.0, 500.0), 2)
                if not held or rng.random() >= SELL_SHARE:
                    trades.append((pid, sym, "BUY", rng.randint(1, 300), price))
                elif rng.randrange(3) == 0:
                    trades.append((pid, sym, "SELL", held, price))
                else:
                    trades.append((pid, sym, "SELL", rng.randint(1, held), price))
        if kind == "commit_fold":
            for i in rng.sample(range(len(trades)), FOLD_POSITIONS):
                pid, sym, _, _, price = trades[i]
                held = self.replay.positions[pid].get(sym, (0, 0.0))[0]
                trades[i] = (pid, sym, "SELL", held + rng.randint(1, 50), price)
        for pid in pids:
            self.changes.setdefault(pid, [(0, dict(self.replay.positions[pid]))])
        before = {(p, s) for p in pids for s in self.replay.positions[p]}
        self.replay.apply(trades)
        self.commits += 1
        for pid in pids:
            self.changes[pid].append((self.commits, dict(self.replay.positions[pid])))
        after = {(p, s) for p in pids for s in self.replay.positions[p]}
        return Op(kind, {
            "index": self.commits,
            "pids": pids,
            "trades": trades,
            "fold_positions": FOLD_POSITIONS if kind == "commit_fold" else 0,
            "upserted": self.replay.frame(pids),
            "closed": sorted(before - after),
        })




class TradeLedger(Workload):
    name = "trade_ledger"
    primary_op = "commit"
    needs_tables = False
    final_checks = 1

    def __init__(self, seed, data_dir, work_dir):
        super().__init__(seed, data_dir, work_dir)
        self.table = None
        self.path = None
        self.gen = None
        self.ops_iter = None
        self.init_frame = None
        self.init_bytes = 0
        self.versions: dict[int, int] = {}
        self.pending = None
        self.problems: list[str] = []
        self.written: stats.WriteCounter | None = None
        self.submitted: list[pd.DataFrame] = []
        self.closed_keys: list[tuple[int, str]] = []
        self.positions = self.fold_positions = 0

    def prepare(self):
        # set-ups only read the initial state, so one op log serves them
        self.gen = LedgerOps(self.seed)
        self.ops_iter = iter(self.gen)
        self.init_frame = self.gen.replay.frame()
        self.init_bytes = stats.parquet_bytes(
            self.init_frame, os.path.join(self.work_dir, "amp.parquet")
        )

    def stage(self, setup):
        if self.path:
            shutil.rmtree(self.path, ignore_errors=True)
        self.path = os.path.join(self.work_dir, f"holdings-{setup}")

    def register(self, ctx, setup):
        from pyspark.sql import types as T

        from relational_query_engine_sql_spark.operators.txnlog import TxnLogTable

        schema = T.StructType([
            T.StructField("portfolioid", T.IntegerType()),
            T.StructField("symbol", T.StringType()),
            T.StructField("shares", T.IntegerType()),
            T.StructField("avgprice", T.DoubleType()),
        ])
        self.table = TxnLogTable(
            ctx.spark, self.path, schema, ["portfolioid", "symbol"]
        )
        df = ctx.spark.createDataFrame(self.init_frame, schema)
        with ctx.tracer.span("txnlog.init", layer="operators.txnlog"):
            self.table.init(df.repartitionByRange(TABLE_FILES, "portfolioid"))
        self.versions = {0: self.table.current_version()}

    def warm_up(self, ctx):
        self.init_frame = None
        self.written = stats.WriteCounter(self.path)
        self.written.poll()
        for _ in LedgerOps.PROLOGUE:
            op = next(self.ops_iter)
            self.execute(ctx, op)
            self.after_op(ctx, op)
        self.items = self.positions = self.fold_positions = 0

    def ops(self):
        return self.ops_iter

    def round_done(self, op):
        return op.args.get("last", False)

    def execute(self, ctx, op):
        from pyspark.sql import functions as F

        from relational_query_engine_sql_spark.operators.trading import (
            apply_trades,
        )

        t, tr = self.table, ctx.tracer
        if op.kind in ("lookup", "read_version"):
            if op.kind == "lookup":
                with tr.span("txnlog.lookup", layer="operators.txnlog"):
                    df = t.lookup([op.args["pid"]])
            else:
                v = self.versions[op.args["commit"]]
                with tr.span("txnlog.read_version", layer="operators.txnlog"):
                    df = t.read(v).filter(F.col("portfolioid") == op.args["pid"])
            with tr.span("spark.collect", layer="spark"):
                rows = df.select(*HOLDING_COLUMNS).collect()
            self.pending = rows
            return len(rows)
        if op.kind == "maintenance":
            with tr.span("txnlog.compact", layer="operators.txnlog"):
                t.compact(TABLE_FILES, cluster_by=["portfolioid"])
            with tr.span("txnlog.vacuum", layer="operators.txnlog"):
                t.vacuum(keep_last=KEEP_VERSIONS)
            return 0
        trades = [
            (p, s, side, n, price, T0 + dt.timedelta(seconds=op.args["index"], microseconds=i))
            for i, (p, s, side, n, price) in enumerate(op.args["trades"])
        ]
        with tr.span("txnlog.lookup", layer="operators.txnlog"):
            held = t.lookup(op.args["pids"]).select(*HOLDING_COLUMNS)
        with tr.span("trading.apply", layer="operators.trading"):
            pos = apply_trades(held, ctx.spark.createDataFrame(trades, TRADE_SCHEMA))
        with tr.span("txnlog.upsert", layer="operators.txnlog"):
            t.upsert(pos.filter(F.col("shares") > 0).select(*HOLDING_COLUMNS))
        with tr.span("txnlog.delete_keys", layer="operators.txnlog"):
            t.delete_keys(pos.filter(F.col("shares") == 0).select("portfolioid", "symbol"))
        self.items += len(trades)
        return len(op.args["upserted"]) + len(op.args["closed"])

    def after_op(self, ctx, op):
        if op.kind in ("lookup", "read_version"):
            if op.kind == "lookup":
                op.args["version"] = self.table.current_version()
            if self.pending is not None:
                got = rows_frame(HOLDING_COLUMNS, self.pending)
                if oracles.result_hash(got) != oracles.result_hash(op.args["expect"]):
                    self.problems.append(f"{op.kind}: rows differ from the replay")
            self.pending = None
        if op.kind in COMMIT_KINDS:
            self.versions[op.args["index"]] = self.table.current_version()
            self.submitted.append(op.args["upserted"])
            self.closed_keys.extend(op.args["closed"])
            self.positions += len(op.args["trades"])
            self.fold_positions += op.args["fold_positions"]
        # the op log's expected rows are not needed again
        op.args.pop("expect", None)
        op.args.pop("upserted", None)
        self.written.poll()

    def check(self, ctx):
        rows = self.table.read().select(*HOLDING_COLUMNS).collect()
        final = rows_frame(HOLDING_COLUMNS, rows)
        if oracles.result_hash(final) != oracles.result_hash(
            self.gen.replay.frame()
        ):
            self.problems.append("final holdings differ from the replay")
        return self.problems

    def named_metrics(self, latency, per_s):
        return {
            **_latency("commit", latency["commit"]),
            **_latency("commit_fold", latency["commit_fold"]),
            **_latency("snapshot_read", latency["lookup"] + latency["read_version"]),
            **_latency("maintenance", latency["maintenance"]),
            "trades_per_s": per_s,
            "fold_share": self.fold_positions / self.positions if self.positions else 0.0,
        }

    def details(self, ctx):
        """Write and space amplification.  The final vacuum (same
        retention as the loop's) runs after the timed loop."""
        self.table.vacuum(keep_last=KEEP_VERSIONS)
        self.written.poll()
        scratch = os.path.join(self.work_dir, "amp.parquet")
        submitted = self.init_bytes
        if self.submitted:
            submitted += stats.parquet_bytes(pd.concat(self.submitted), scratch)
        if self.closed_keys:
            submitted += stats.parquet_bytes(
                pd.DataFrame(self.closed_keys, columns=["portfolioid", "symbol"]),
                scratch,
            )
        on_disk = sum(stats.dir_files(self.path).values())
        live = stats.parquet_bytes(self.gen.replay.frame(), scratch)
        return {
            "write_amplification": stats.amplification(self.written.written, submitted),
            "space_amplification": stats.amplification(on_disk, live),
        }

    def traced_details(self, ctx, records):
        """Commit-log figures: files and bytes per commit, compaction
        rewrite size, live files, log length, and the share of live
        files a point lookup scans."""
        log = os.path.join(self.path, "_txn_log")
        entries = []
        for f in sorted(os.listdir(log)):
            if f.endswith(".json") and not f.endswith(".checkpoint.json"):
                with open(os.path.join(log, f), encoding="utf-8") as fh:
                    entries.append(json.load(fh))
        size = self.written.seen
        live: set[str] = set()
        live_at: dict[int, int] = {}
        per_op: dict[str, list[tuple[int, int, int]]] = collections.defaultdict(list)
        for e in entries:
            adds = [a["add"]["path"] for a in e["actions"] if "add" in a]
            removes = [a["remove"]["path"] for a in e["actions"] if "remove" in a]
            live |= set(adds)
            live -= set(removes)
            live_at[e["version"]] = len(live)
            per_op[e["op"]].append(
                (len(adds), len(removes), sum(size.get(p, 0) for p in adds))
            )
        commit_entries = per_op["upsert"] + per_op["delete_keys"]
        commits = max(1, len(per_op["upsert"]))
        compacts = per_op["compact"]
        shares = [
            r["files_read"] / live_at[r["version"]]
            for r in records
            if r["kind"] == "lookup" and live_at.get(r.get("version"))
        ]
        return {
            "txnlog.files_added_per_commit": sum(c[0] for c in commit_entries) / commits,
            "txnlog.files_removed_per_commit": sum(c[1] for c in commit_entries) / commits,
            "txnlog.bytes_written_per_commit": sum(c[2] for c in commit_entries) / commits,
            "txnlog.compact_bytes_rewritten": (
                sum(c[2] for c in compacts) / len(compacts) if compacts else 0.0
            ),
            "txnlog.live_files": len(live),
            "txnlog.log_entries": len(entries),
            "txnlog.lookup_files_scanned_share": (
                sum(shares) / len(shares) if shares else 0.0
            ),
        }


# -- event_stream -----------------------------------------------------------

WAVE_EVENTS = 1_000
WARMUP_WAVES = 2
FEED_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)
CDC_SCHEMA = "user_id bigint, ts timestamp, event_id bigint, value double"
MV_SCHEMA = "h timestamp, event_type string, n_events bigint, value_sum decimal(27,6)"
CONSUMERS = ("cdc", "mv")
# recentProgress durationMs fields reported per trigger
PROGRESS_FIELDS = {
    "triggerExecution": "trigger_s",
    "latestOffset": "latest_offset_s",
    "queryPlanning": "query_planning_s",
    "addBatch": "add_batch_s",
    "walCommit": "wal_commit_s",
    "commitOffsets": "commit_offsets_s",
}


def event_waves(events: pd.DataFrame, seed: int):
    """Endless seeded waves of ``WAVE_EVENTS`` rows: the events in a
    seeded order, cut into waves; after the last wave a new order
    starts.  Both consumers are order-tolerant, so any split is valid."""
    rng = np.random.default_rng(seed)
    while True:
        order = rng.permutation(len(events))
        for i in range(0, len(order) - WAVE_EVENTS + 1, WAVE_EVENTS):
            yield events.iloc[np.sort(order[i:i + WAVE_EVENTS])].reset_index(drop=True)


class ReplacingTable:
    """A ``TxnLogTable`` under the table interface ``maintain_hourly_mv``
    writes through: it rewrites the whole MV with ``init(merged)``,
    which replaces a ``ParquetTable``'s contents but adds files to an
    existing ``TxnLogTable``.  Here ``init`` is a keyed ``upsert``;
    ``merged`` holds every key of the old contents, so the upsert
    replaces them all in one commit."""

    def __init__(self, table):
        self.table = table

    def read(self):
        return self.table.read()

    def init(self, df) -> None:
        self.table.upsert(df)


class EventStream(Workload):
    name = "event_stream"
    primary_op = "wave"
    final_checks = len(CONSUMERS)

    def __init__(self, seed, data_dir, work_dir):
        super().__init__(seed, data_dir, work_dir)
        self.root = None
        self.tables: dict[str, object] = {}
        self.appended: list[pd.DataFrame] = []
        self.waves = None
        self.progress: list[dict] = []
        self.written: stats.WriteCounter | None = None

    def prepare(self):
        import pyarrow.parquet as pq

        events = pq.read_table(os.path.join(self.data_dir, "events.parquet"))
        self.waves = event_waves(events.to_pandas(), self.seed)

    def stage(self, setup):
        if self.root:
            shutil.rmtree(self.root, ignore_errors=True)
        self.root = os.path.join(self.work_dir, f"stream-{setup}")

    def register(self, ctx, setup):
        from relational_query_engine_sql_spark.operators.txnlog import TxnLogTable
        from relational_query_engine_sql_spark.sources.txnlog_stream import (
            TxnLogStreamDataSource,
        )

        spark = ctx.spark
        spark.dataSource.register(TxnLogStreamDataSource)
        for name, schema, keys in (
            ("feed", FEED_SCHEMA, ["event_id"]),
            ("cdc", CDC_SCHEMA, ["user_id"]),
            ("mv", MV_SCHEMA, ["h", "event_type"]),
        ):
            empty = spark.createDataFrame([], schema)
            t = TxnLogTable(spark, os.path.join(self.root, "tables", name),
                            empty.schema, keys)
            with ctx.tracer.span("txnlog.init", layer="operators.txnlog"):
                t.init(empty)
            self.tables[name] = t
        self.appended = []

    def warm_up(self, ctx):
        self.written = stats.WriteCounter(os.path.join(self.root, "tables"))
        for _ in range(WARMUP_WAVES):
            op = Op("wave", {"rows": next(self.waves)})
            self.execute(ctx, op)
            self.after_op(ctx, op)
        self.items = 0
        self.progress = []

    def ops(self):
        for rows in self.waves:
            yield Op("wave", {"rows": rows})

    def _stream(self, spark):
        return (
            spark.readStream.format("txnlog")
            .option("path", self.tables["feed"].path)
            .load()
        )

    def execute(self, ctx, op):
        from relational_query_engine_sql_spark.streaming.events import (
            apply_cdc_stream,
            maintain_hourly_mv,
        )

        spark, tr = ctx.spark, ctx.tracer
        rows = op.args["rows"]
        with tr.span("txnlog.append", layer="operators.txnlog"):
            self.tables["feed"].append(spark.createDataFrame(rows, FEED_SCHEMA))
        start = {
            "cdc": lambda: apply_cdc_stream(
                self._stream(spark), self.tables["cdc"],
                os.path.join(self.root, "ckpt-cdc")),
            "mv": lambda: maintain_hourly_mv(
                self._stream(spark), ReplacingTable(self.tables["mv"]),
                os.path.join(self.root, "ckpt-mv")),
        }
        for name in CONSUMERS:
            with tr.span(f"streaming.{name}_trigger", layer="streaming"):
                t0 = time.time()
                q = start[name]()
                q.awaitTermination()
            self.progress.append({"consumer": name, "start": t0,
                                  "progress": [json.loads(p.json) for p in q.recentProgress]})
        self.items += len(rows)
        return len(rows)

    def after_op(self, ctx, op):
        self.appended.append(op.args.pop("rows"))
        self.written.poll()

    def check(self, ctx):
        from pyspark.sql import functions as F

        expected = oracles.stream_oracle_hashes(pd.concat(self.appended))
        got = {
            "cdc": self.tables["cdc"].read().select("user_id", "ts", "event_id", "value"),
            "mv": self.tables["mv"].read().select(
                "h", "event_type", "n_events",
                F.round("value_sum", 4).cast("double").alias("value_sum")),
        }
        bad = []
        for name, df in got.items():
            if oracles.result_hash(rows_frame(df.columns, df.collect())) != expected[name]:
                bad.append(f"{name}: table differs from the DuckDB oracle")
        return bad

    def named_metrics(self, latency, per_s):
        return {**_latency("freshness", latency["wave"]), "events_per_s": per_s}

    def details(self, ctx):
        """Write and space amplification over the three tables; the
        vacuum runs after the timed loop."""
        for t in self.tables.values():
            t.vacuum(keep_last=1)
        self.written.poll()
        scratch = os.path.join(self.work_dir, "amp.parquet")
        submitted = stats.parquet_bytes(pd.concat(self.appended), scratch)
        on_disk = sum(stats.dir_files(os.path.join(self.root, "tables")).values())
        live = sum(
            stats.parquet_bytes(t.read().toPandas(), scratch)
            for t in self.tables.values()
        )
        return {
            "write_amplification": stats.amplification(self.written.written, submitted),
            "space_amplification": stats.amplification(on_disk, live),
            "waves": len(self.appended),
        }

    def traced_details(self, ctx, records):
        """Per-trigger figures from ``StreamingQuery.recentProgress``."""
        import datetime

        per: dict[str, list[float]] = collections.defaultdict(list)
        for p in self.progress:
            first = p["progress"][0] if p["progress"] else None
            if first is not None:
                began = datetime.datetime.fromisoformat(
                    first["timestamp"].replace("Z", "+00:00")).timestamp()
                per["start_s"].append(began - p["start"])
            for prog in p["progress"]:
                per["rows_per_trigger"].append(prog.get("numInputRows", 0))
                for field_, name in PROGRESS_FIELDS.items():
                    per[name].append(prog.get("durationMs", {}).get(field_, 0) / 1000.0)
        return {f"streaming.{k}": stats.median(v) for k, v in per.items() if v}


WORKLOADS = {
    w.name: w for w in (PortfolioRead, TradeLedger, CorpusDedup, EventStream)
}
