"""The benchmark's workloads.

Each workload is closed-loop: one client thread issues the next operation
only after the previous one returned. A workload has three phases:

- ``setup``: inputs from the seed, pre-sync and warm-up (all in ``setup_s``);
- ``run``: the timed window, which ends at the first round boundary after
  ``seconds`` (a round is a chunk for every plug, a live-tail cycle or a
  canonical pass; the live tail runs at least three cycles);
- ``check``: the correctness gate, outside the timed window.

With a ``Tracer`` the run also records spans around the package's layer
calls and one Spark job group per operation; ``per_layer`` turns them into
the layer metrics.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import random
import shutil
import sys
import time
import traceback
from collections import Counter

from inputs import write_oplog, write_star_schema
from stats import median, tail
from spans import JobLedger, Tracer

now = time.perf_counter

#: Per-layer metrics every traced run reports: session start, peak memory
#: and the status-store counters of the timed window.
EXEC_LAYERS = (
    "session.start_ms",
    "process.peak_rss_mb",
    *(f"exec.{k}" for k in (
        "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
        "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        "slot_busy_ratio",
    )),
    "blockmanager.storage_used_peak_bytes",
)
SYNC_LAYERS = EXEC_LAYERS + (
    "runner.chunk_self_ms", "runner.commit_ms", "runner.jobs_per_chunk",
    "runner.tasks_per_chunk", "runner.writes_per_chunk", "runner.write_ms",
    "runner.files_written", "runner.bytes_written_per_input_byte",
    "ingest.construct_ms", "ingest.rows_parsed", "ingest.dead_letter_rows",
    "plugs.construct_ms", "plugs.rows_out",
)


def _ms(t0: float) -> float:
    return (now() - t0) * 1000.0


def _tree_files(root: str) -> tuple[int, int]:
    """(parquet file count, their bytes) under ``root``."""
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def _canon_column(values) -> list:
    """``tests.compare._norm`` over one column. Columns of ints, strings
    and booleans are already canonical and float columns only round, so
    those skip the per-value type dispatch (a 600k-row join result would
    otherwise spend seconds in it)."""
    from tests.compare import _norm

    kinds = set(map(type, values))
    if kinds <= {int, str, bool, type(None)}:
        return values
    if kinds <= {float, type(None)}:
        return [v if v is None else "NaN" if v != v else round(v, 6) for v in values]
    return [_norm(v) for v in values]


def row_bag(cols, rows) -> tuple[list[str], Counter]:
    """A result under the tests/compare canonicalization: columns by name,
    values normalized, rows as a multiset (row order ignored)."""
    names = sorted(cols)
    by_col = dict(zip(cols, zip(*rows))) if rows else dict.fromkeys(cols, ())
    return names, Counter(zip(*(_canon_column(by_col[c]) for c in names)))


def same_rows(cols_a, rows_a, cols_b, rows_b) -> bool:
    return row_bag(cols_a, rows_a) == row_bag(cols_b, rows_b)


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, tracer: Tracer | None = None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.ledger = JobLedger(spark) if tracer else None
        self.attempted = 0
        self.failed = 0
        self.window_s = 0.0
        self.window_t0 = 0.0
        self.window_groups: list[str] = []
        self.storage_peak = 0
        self.first_round: list = []  # (kind, frame) pairs counted after the run
        self.setup_ms: dict[str, float] = {}

    @contextlib.contextmanager
    def _op(self, gid: str):
        """One operation: its trace id and Spark job group (traced run only)."""
        if self.tracer is None:
            yield
            return
        self.tracer.op = gid
        self.window_groups.append(gid)
        try:
            with self.ledger.group(gid):
                yield
        finally:
            self.tracer.op = None
            self.storage_peak = max(self.storage_peak, self.ledger.storage_used_bytes())

    def _call(self, fn, *args, **kwargs):
        """Run one operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def _keep_first(self, kind: str):
        def keep(result):
            if self.tracer.op and self.tracer.op.startswith(self.first_round_prefix):
                self.first_round.append((kind, result))
        return keep

    def _exec_metrics(self, rounds: int) -> dict[str, float]:
        c = self.ledger.counters(self.window_groups)
        per = max(rounds, 1)
        out = {f"exec.{k}": v / per for k, v in c.items()}
        cpus = self.spark.sparkContext.defaultParallelism
        out["exec.slot_busy_ratio"] = c["executor_run_ms"] / (self.window_s * 1000.0 * cpus)
        out["blockmanager.storage_used_peak_bytes"] = float(self.storage_peak)
        return out

    def _first_round_counts(self) -> dict[str, float]:
        counts = {"ingest.rows_parsed": 0.0, "ingest.dead_letter_rows": 0.0, "plugs.rows_out": 0.0}
        for kind, result in self.first_round:
            frames = result.values() if isinstance(result, dict) else [result]
            counts[kind] += sum(df.count() for df in frames)
        return counts


# ------------------------------------------------------------------ sync


class _SyncMixin:
    """Plug runners over a generated op log, and their layer wrappers."""

    def _runners(self, plugs, out_root: str, step: int) -> dict:
        from haf_plug_play_spark.plugs import PLUGS
        from haf_plug_play_spark.runner.batch import PlugRunner

        return {
            n: PlugRunner(self.spark, PLUGS[n], self.log.ops_path, self.log.trx_path, out_root, step=step)
            for n in plugs
        }

    def _instrument_sync(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        from haf_plug_play_spark.plugs.framework import Plug
        from haf_plug_play_spark.runner import batch
        from haf_plug_play_spark.runner.state import PlugStateStore

        t = self.tracer
        t.wrap(batch.PlugRunner, "process_range", "runner.process_range")
        t.wrap(batch, "parse_custom_json", "ingest.parse_custom_json", self._keep_first("ingest.rows_parsed"))
        t.wrap(batch, "dead_letter", "ingest.dead_letter", self._keep_first("ingest.dead_letter_rows"))
        t.wrap(Plug, "silver_transform", "plugs.silver_transform", self._keep_first("plugs.rows_out"))
        t.wrap(DataFrameWriter, "parquet", "runner.write")
        t.wrap(PlugStateStore, "load", "runner.state_load")
        t.wrap(PlugStateStore, "save", "runner.state_save")

    def _chunk_layers(self, chunk_groups: list[str], out_root: str) -> dict[str, float]:
        t = self.tracer
        chunks = [s for s in t.named("runner.process_range", self.window_t0)]
        writes = [len(t.within(c, "runner.write")) for c in chunks]
        files, size = _tree_files(out_root)
        counters = self.ledger.counters(chunk_groups)
        per_chunk = [self.ledger.counters([g]) for g in chunk_groups]
        n = max(len(chunks), 1)
        return {
            "runner.chunk_self_ms": median([t.self_ms(c) for c in chunks]),
            "runner.commit_ms": median([t.total_ms(c, "runner.state_save") for c in chunks]),
            "runner.jobs_per_chunk": median([c["jobs"] for c in per_chunk]),
            "runner.tasks_per_chunk": median([c["tasks"] for c in per_chunk]),
            "runner.writes_per_chunk": median(writes),
            "runner.write_ms": median([t.total_ms(c, "runner.write") for c in chunks]),
            "runner.files_written": (files - self.files_before[0]) / n,
            "runner.bytes_written_per_input_byte": (size - self.files_before[1])
            / max(counters["input_bytes"], 1.0),
            "ingest.construct_ms": median([t.total_ms(c, "ingest.") for c in chunks]),
            "plugs.construct_ms": median([t.total_ms(c, "plugs.silver_transform") for c in chunks]),
        }

    def _check_tables(self, upto: int, chunks_per_plug: dict[str, int]) -> None:
        """Every synced table equals the row-loop replay of the same rows."""
        from tests.replay_oracle import replay
        from tests.test_plugs import TABLE_COLUMNS

        expected = replay(
            [o for o in self.log.ops if o["block_num"] <= upto],
            [t for t in self.log.trx if t["block_num"] <= upto],
        )
        for name, runner in self.runners.items():
            for table in runner.plug.tables:
                cols = TABLE_COLUMNS[table]
                df = runner.read_gold(table) if table in runner.plug.gold else runner.read_table(table)
                got = [tuple(r) for r in df.select(*cols).collect()]
                want = [tuple(e.get(c) for c in cols) for e in expected[table]]
                if not same_rows(cols, got, cols, want):
                    print(f"{self.name}: {table} differs from the replay oracle "
                          f"({len(got)} rows vs {len(want)})", file=sys.stderr)
                    self.failed += chunks_per_plug[name]
                    break


class SyncBulk(_SyncMixin, Workload):
    """Massive sync of all three plugs over a generated op log, in large
    chunks so per-row work in ingest and the plugs is a visible share."""

    name = "sync-bulk"
    LAYERS = SYNC_LAYERS
    STEP = 5000  # blocks per chunk, about 11.5k ops
    N_OPS = 60_000  # about 26k blocks: more rounds than a window can take
    PLUGS = ("podping", "polls", "hive_engine")
    first_round_prefix = "chunk-0-"

    def setup(self) -> None:
        t0 = now()
        self.log = write_oplog(os.path.join(self.work, "in"), self.N_OPS, self.seed)
        self.first = (self.log.first_block // self.STEP) * self.STEP
        self.setup_ms["inputs"] = _ms(t0)
        # warm-up: the first chunk of every plug, full size (a smaller one
        # leaves the first timed chunk twice as slow), into a scratch tree
        t0 = now()
        warm = os.path.join(self.work, "warm")
        for runner in self._runners(self.PLUGS, warm, self.STEP).values():
            runner.backfill(self.first, self.first + self.STEP - 1)
        shutil.rmtree(warm)
        self.setup_ms["warmup"] = _ms(t0)
        self.out = os.path.join(self.work, "out")
        self.runners = self._runners(self.PLUGS, self.out, self.STEP)
        if self.tracer:
            self._instrument_sync()

    def run(self, seconds: float) -> None:
        self.chunk_ms, self.round_ms, self.blocks = [], [], 0
        self.synced_to = self.first - 1
        self.files_before = _tree_files(self.out)
        self.window_t0 = now()
        deadline = self.window_t0 + seconds
        a, k = self.first, 0
        while a <= self.log.last_block and now() < deadline:
            b = min(a + self.STEP - 1, self.log.last_block)
            r0 = now()
            for name, runner in self.runners.items():
                with self._op(f"chunk-{k}-{name}"):
                    c0 = now()
                    self._call(runner.backfill, a, b)
                    self.chunk_ms.append(_ms(c0))
            self.round_ms.append(_ms(r0))
            self.blocks += len(self.runners) * (b - max(a, self.log.first_block) + 1)
            self.synced_to, a, k = b, b + 1, k + 1
        self.window_s = now() - self.window_t0

    def check(self) -> None:
        rounds = len(self.round_ms)
        self._check_tables(self.synced_to, {n: rounds for n in self.runners})

    def end_to_end(self) -> dict[str, float]:
        op_tail, pct, n = tail(self.chunk_ms)
        self.tails = {"op_tail_ms": (pct, n)}
        self.report = {
            "sync_blocks_per_s": (self.blocks / self.window_s, "1/s"),
            "chunk_commit_p50_ms": (median(self.chunk_ms), "ms"),
            "chunk_commit_tail_ms": (op_tail, "ms"),
        }
        return {
            "throughput_per_s": self.blocks / self.window_s,
            "op_p50_ms": median(self.chunk_ms),
            "op_tail_ms": op_tail,
            "round_p50_ms": median(self.round_ms),
        }

    def per_layer(self) -> dict[str, float]:
        groups = list(self.window_groups)
        out = self._chunk_layers(groups, self.out)
        out.update(self._exec_metrics(len(self.round_ms)))
        out.update(self._first_round_counts())
        return out


# ----------------------------------------------------------------- serve

#: The reference's API menu under metric-safe names. ``GET /api`` (system
#: status) does no engine work and stays out of the mix.
ROUTES = {
    "podping_counts": ("GET", "/api/podping/history/counts"),
    "podping_latest": ("GET", "/api/podping/history/latest/iri"),
    "new_permlink": ("POST", "/api/polls/new_permlink"),
    "poll_ops": ("GET", "/api/polls/ops"),
    "polls_active": ("GET", "/api/polls/active"),
    "get_poll": ("GET", "/api/polls/{author}/{permlink}"),
    "poll_votes": ("GET", "/api/polls/{author}/{permlink}/votes"),
    "polls_user": ("GET", "/api/polls/{author}"),
}


def _canon_response(resp):
    """JSON form with row order dropped: lists of objects are row sets."""
    def norm(v):
        if isinstance(v, dict):
            return {k: norm(x) for k, x in v.items()}
        if isinstance(v, (list, tuple)):
            items = [norm(x) for x in v]
            if items and all(isinstance(x, dict) for x in items):
                items.sort(key=lambda x: json.dumps(x, sort_keys=True))
            return items
        return v
    return json.dumps(norm(resp), sort_keys=True, default=str)


class ServeMixed(_SyncMixin, Workload):
    """Live tail: each cycle has one leg per plug, podping then polls. A leg
    syncs the plug's next 100-block chunk, rebuilds the serving context and
    serves the plug's freshness probe. The rest of a fixed, seeded batch of
    requests over the reference's API menu follows the last leg."""

    name = "serve-mixed"
    LAYERS = SYNC_LAYERS + tuple(f"serve.handler_p50_ms.{r}" for r in ROUTES) + (
        "serve.collect_ms", "serve.jobs_per_request", "serve.context_refresh_ms",
        "queries.construct_ms", "plugs.gold_ms",
    )
    STEP = 100  # the reference's live chunk (sync.sql:59)
    PRESYNC_CHUNKS = 1
    N_OPS = 8_000
    MAX_CYCLES = 40
    #: Untimed cycles in set-up. Cycle times kept falling over the first
    #: three cycles after the pre-sync (JIT and codegen of the serve path).
    WARM_CYCLES = 2
    #: Freshness has one sample per leg, two per cycle. A window has at
    #: least three cycles (six samples) even when they outlast ``seconds``:
    #: a median of fewer samples spread up to 0.25 of itself over ten seeds.
    MIN_CYCLES = 3
    PLUGS = ("podping", "polls")
    first_round_prefix = "chunk-0-"

    def setup(self) -> None:
        t0 = now()
        self.log = write_oplog(os.path.join(self.work, "in"), self.N_OPS, self.seed)
        self.first = (self.log.first_block // self.STEP) * self.STEP
        self.out = os.path.join(self.work, "out")
        self.runners = self._runners(self.PLUGS, self.out, self.STEP)
        self.cursor = self.first + self.PRESYNC_CHUNKS * self.STEP - 1
        self.plan = self._plan()
        self.setup_ms["inputs"] = _ms(t0)
        # pre-sync; its first chunk per plug is the JVM and codegen warm-up
        t0 = now()
        for runner in self.runners.values():
            runner.backfill(self.first, self.cursor)
        self.setup_ms["presync"] = _ms(t0)
        # warm-up: whole cycles of the plan (both batch mixes), untimed and
        # unchecked; the window takes the rest of the plan
        t0 = now()
        self._reset_window()
        for k, (upto, batch) in enumerate(self.plan[:self.WARM_CYCLES]):
            self._cycle(f"warm{k}", upto, batch)
        if self.failed:
            raise RuntimeError(f"{self.failed} operations of the warm-up failed")
        self.plan = self.plan[self.WARM_CYCLES:]
        self.setup_ms["warmup"] = _ms(t0)
        if self.tracer:
            self._instrument_sync()
            self._instrument_serve()

    # ------------------------------------------------------------ inputs

    def _block_time(self, block: int) -> datetime.datetime:
        from haf_plug_play_spark import fixtures

        return fixtures.EPOCH + datetime.timedelta(seconds=3 * (block - fixtures.START_BLOCK))

    def _plan(self) -> list[tuple[int, list]]:
        """Request batches for every cycle the log can feed, drawn from the
        generated rows: feed urls, poll authors and permlinks, block ranges."""
        from tests.replay_oracle import replay

        truth = replay(self.log.ops, self.log.trx)
        self._updates = truth["podping_updates"]
        # polls never deleted anywhere in the log are live in every prefix
        self._polls = [p for p in truth["polls_content"] if not p["deleted"]]
        rng = random.Random(self.seed)
        plan, upto = [], self.cursor
        while len(plan) < self.MAX_CYCLES and upto + self.STEP <= self.log.last_block:
            upto += self.STEP
            plan.append((upto, self._batch(rng, upto, len(plan))))
        return plan

    def _batch(self, rng: random.Random, upto: int, k: int) -> list[tuple[str, dict]]:
        """The requests of cycle ``k``. Flags that pick a handler's code path
        alternate with the cycle, so any two cycles send the same mix: drawn
        at random, the request median spread a quarter of its value over ten
        seeds."""
        ts = self._block_time(upto)
        urls = sorted({u["url"] for u in self._updates if u["block_num"] <= upto})
        polls = [p for p in self._polls if p["created"] <= ts]
        if not urls or not polls:
            raise ValueError(f"no feed or live poll by block {upto}: pre-sync more blocks")
        poll = rng.choice(polls)
        lo = rng.randint(self.log.first_block, upto)
        odd = k % 2 == 1
        # the freshness probes lead every batch, one per plug in the order of
        # PLUGS, each a route that reads only its plug's tables: the latest
        # update of a feed, and the poll ops up to the new chunk
        probes = [
            ("podping_latest", {"iri": rng.choice(urls), "limit": 5}),
            ("poll_ops", {"op_type": "vote" if odd else "create", "block_range": [max(lo, upto - 300), upto]}),
        ]
        rest = [
            ("podping_counts", {"block_range": [lo, upto] if odd else None}),
            ("new_permlink", {"author": rng.choice(polls)["author"], "question": rng.choice(polls)["question"]}),
            ("polls_active", {"tag": rng.choice(["", "polls", "dev"])}),
            ("get_poll", {"author": poll["author"], "permlink": poll["permlink"], "summary": odd}),
            ("poll_votes", {"author": poll["author"], "permlink": poll["permlink"]}),
            ("polls_user", {"author": poll["author"], "active": not odd}),
        ]
        rng.shuffle(rest)
        return probes + rest

    def _context(self, upto: int) -> dict:
        pp, po = self.runners["podping"], self.runners["polls"]
        return {
            "podping_updates": pp.read_table("podping_updates"),
            "podping_ops": pp.read_table("podping_ops"),
            "polls_content": po.read_gold("polls_content"),
            "polls_votes": po.read_table("polls_votes"),
            "polls_ops": po.read_table("polls_ops"),
            "now": self._block_time(upto),
        }

    def _instrument_serve(self) -> None:
        from haf_plug_play_spark import serve
        from haf_plug_play_spark.plugs import PLUGS
        from haf_plug_play_spark.queries import plug_queries

        t = self.tracer
        t.wrap(serve, "df_to_json_rows", "serve.df_to_json_rows")
        for fn in ("podping_counts", "podping_url_latest_feed_update", "poll_ops",
                   "polls_active", "get_poll", "poll_votes_summary", "poll_votes",
                   "polls_user"):
            t.wrap(plug_queries, fn, f"queries.{fn}")
        for name in self.PLUGS:
            for table in list(PLUGS[name].gold):
                t.wrap(PLUGS[name].gold, table, "plugs.gold")

    # ------------------------------------------------------------ window

    def _serve(self, routes, route: str, params: dict):
        from haf_plug_play_spark.serve import ApiError

        try:
            return routes[ROUTES[route]](**params)
        except ApiError as e:
            return {"error": e.status_code, "detail": e.detail}

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def _reset_window(self) -> None:
        self.chunk_ms, self.api_ms, self.fresh_ms, self.refresh_ms = [], [], [], []
        self.route_ms: dict[str, list[float]] = {r: [] for r in ROUTES}
        #: (plug -> synced-to block, context block, route, params, response)
        self.served: list[tuple[dict, int, str, dict, object]] = []
        self.window_groups = []
        self.storage_peak = 0
        self.attempted = self.blocks = self.cycles = 0

    def _cycle(self, k, upto: int, batch: list) -> None:
        """One live-tail cycle up to block ``upto``. Each plug in turn syncs
        its chunk, the context is rebuilt over every plug's tables and the
        plug's probe (``batch[i]``) is served. Such a leg, from the start of
        the sync to the probe's return, is one freshness sample. The rest of
        the batch follows over the last context."""
        from haf_plug_play_spark.serve import api_routes

        synced = dict.fromkeys(self.runners, self.cursor)
        for i, (name, runner) in enumerate(self.runners.items()):
            with self._op(f"chunk-{k}-{name}"):
                leg0 = now()
                self._call(runner.backfill, self.cursor + 1, upto)
                self.chunk_ms.append(_ms(leg0))
            synced[name] = upto
            with self._op(f"refresh-{k}-{name}"):
                t0 = now()
                with self._span("serve.context_refresh"):
                    routes = api_routes(self._context(upto))
                self.refresh_ms.append(_ms(t0))
            self._request(f"req-{k}-{i}", routes, dict(synced), upto, batch[i])
            self.fresh_ms.append(_ms(leg0))
        for j in range(len(self.runners), len(batch)):
            self._request(f"req-{k}-{j}", routes, synced, upto, batch[j])
        self.cursor = upto
        self.blocks += len(self.runners) * self.STEP
        self.cycles += 1

    def _request(self, gid: str, routes, synced: dict, upto: int, request) -> None:
        route, params = request
        with self._op(gid):
            t0 = now()
            with self._span(f"serve.handler.{route}"):
                resp = self._call(self._serve, routes, route, params)
            ms = _ms(t0)
        self.api_ms.append(ms)
        self.route_ms[route].append(ms)
        if resp is not None:  # a raised request is already counted
            self.served.append((synced, upto, route, params, resp))

    def run(self, seconds: float) -> None:
        self._reset_window()
        self.files_before = _tree_files(self.out)
        self.window_t0 = now()
        deadline = self.window_t0 + seconds
        for k, (upto, batch) in enumerate(self.plan):
            if k >= self.MIN_CYCLES and now() >= deadline:
                break
            self._cycle(k, upto, batch)
        self.window_s = now() - self.window_t0

    def check(self) -> None:
        """Responses equal the same routes over ``plug.transform`` frames,
        each plug's over its own log prefix at the time of the request."""
        from haf_plug_play_spark.ingest.envelope import parse_custom_json
        from haf_plug_play_spark.plugs import PLUGS
        from haf_plug_play_spark.serve import api_routes
        from pyspark.sql import functions as F

        ops = self.spark.read.parquet(self.log.ops_path)
        trx = self.spark.read.parquet(self.log.trx_path)
        parsed: dict[int, object] = {}
        frames: dict[tuple[str, int], dict] = {}

        def plug_frames(name: str, upto: int) -> dict:
            # every request over this prefix reads these frames: transform once
            if (name, upto) not in frames:
                if upto not in parsed:
                    parsed[upto] = parse_custom_json(
                        ops.filter(F.col("block_num") <= upto),
                        trx.filter(F.col("block_num") <= upto),
                    ).cache()
                frames[name, upto] = {t: df.cache() for t, df in PLUGS[name].transform(parsed[upto]).items()}
            return frames[name, upto]

        by_context: dict[tuple, list] = {}
        for synced, upto, route, params, resp in self.served:
            by_context.setdefault((tuple(synced.items()), upto), []).append((route, params, resp))
        try:
            for (synced, upto), reqs in by_context.items():
                context = {"now": self._block_time(upto)}
                for name, to in synced:
                    context.update(plug_frames(name, to))
                routes = api_routes(context)
                for route, params, resp in reqs:
                    want = self._serve(routes, route, params)
                    if _canon_response(resp) != _canon_response(want):
                        print(f"{self.name}: {route}{params} at blocks {dict(synced)} differs "
                              "from the transform-frame oracle", file=sys.stderr)
                        self.failed += 1
        finally:
            for df in (*parsed.values(), *(d for f in frames.values() for d in f.values())):
                df.unpersist()

    def end_to_end(self) -> dict[str, float]:
        api_tail, api_pct, api_n = tail(self.api_ms)
        chunk_tail, chunk_pct, chunk_n = tail(self.chunk_ms)
        self.tails = {"op_tail_ms": (api_pct, api_n), "chunk_commit_tail_ms": (chunk_pct, chunk_n)}
        self.report = {
            "sync_blocks_per_s": (self.blocks / self.window_s, "1/s"),
            "chunk_commit_p50_ms": (median(self.chunk_ms), "ms"),
            "chunk_commit_tail_ms": (chunk_tail, "ms"),
            "freshness_p50_ms": (median(self.fresh_ms), "ms"),
            "api_p50_ms": (median(self.api_ms), "ms"),
            "api_tail_ms": (api_tail, "ms"),
        }
        return {
            "throughput_per_s": self.blocks / self.window_s,
            "op_p50_ms": median(self.api_ms),
            "op_tail_ms": api_tail,
            "round_p50_ms": median(self.fresh_ms),
        }

    def per_layer(self) -> dict[str, float]:
        t = self.tracer
        groups = list(self.window_groups)
        chunk_groups = [g for g in groups if g.startswith("chunk-")]
        req_groups = [g for g in groups if g.startswith("req-")]
        out = self._chunk_layers(chunk_groups, self.out)
        reqs = [s for s in t.spans if s.name.startswith("serve.handler.") and s.start >= self.window_t0]
        for route in ROUTES:
            ms = [s.ms for s in reqs if s.name == f"serve.handler.{route}"]
            out[f"serve.handler_p50_ms.{route}"] = median(ms) if ms else 0.0
        out["serve.collect_ms"] = median([t.total_ms(s, "serve.df_to_json_rows") for s in reqs])
        out["serve.jobs_per_request"] = median([float(len(self.ledger.jobs(g))) for g in req_groups])
        out["queries.construct_ms"] = median([t.total_ms(s, "queries.") for s in reqs])
        refresh = t.named("serve.context_refresh", self.window_t0)
        out["serve.context_refresh_ms"] = median([s.ms for s in refresh])
        out["plugs.gold_ms"] = median([t.total_ms(s, "plugs.gold") for s in refresh])
        out.update(self._exec_metrics(self.cycles))
        out.update(self._first_round_counts())
        return out


# ------------------------------------------------------------- analytics


def _pandas_rows(pdf) -> tuple[list[str], list[tuple]]:
    """Plain Python values, nulls as None, ready for tests/compare."""
    cols = list(pdf.columns)
    values = [pdf[c].astype(object).where(pdf[c].notna(), None).tolist() for c in cols]
    return cols, list(zip(*values))


class AnalyticsCanonical(Workload):
    """The 24 canonical queries at sf0.1, each collected with ``toPandas``."""

    name = "analytics-canonical"
    LAYERS = EXEC_LAYERS + (
        "sources.load_table_ms", "sources.load_table_calls", "sources.construct_jobs",
        "queries.construct_ms", "catalyst.analysis_ms", "catalyst.optimization_ms",
        "catalyst.planning_ms", "collect.to_pandas_ms",
    )
    #: The warm-up pass runs over a copy at this fraction of sf0.1. On 4
    #: cores it took 18 s against 26 s at full size; over five seeds each,
    #: the timed pass spread no wider after it.
    WARM_SCALE = 0.01

    def setup(self) -> None:
        from haf_plug_play_spark.queries.canonical import CANONICAL_QUERIES

        t0 = now()
        self.sf_dir = write_star_schema(os.path.join(self.work, "sf0.1"), self.seed)
        warm_dir = write_star_schema(os.path.join(self.work, "warm"), self.seed, self.WARM_SCALE)
        self.queries = CANONICAL_QUERIES
        self.setup_ms["inputs"] = _ms(t0)
        t0 = now()
        for fn in self.queries.values():
            fn(self.spark, warm_dir).toPandas()
        self.setup_ms["warmup"] = _ms(t0)
        if self.tracer:
            from haf_plug_play_spark.queries import canonical

            self.tracer.wrap(canonical, "load_table", "sources.load_table")

    def run(self, seconds: float) -> None:
        self.query_ms, self.pass_ms = [], []
        self.results: list[dict] = []
        self.phases: list[dict[str, float]] = []
        self.window_t0 = now()
        deadline = self.window_t0 + seconds
        p = 0
        while now() < deadline:
            results, total, phases = {}, 0.0, {}
            for name, fn in self.queries.items():
                t0 = now()
                df = pdf = None
                with self._op(f"p{p}-{name}-construct"):
                    if self.tracer:
                        with self.tracer.span("queries.canonical"):
                            df = self._call(fn, self.spark, self.sf_dir)
                    else:
                        df = self._call(fn, self.spark, self.sf_dir)
                if df is not None:
                    with self._op(f"p{p}-{name}-collect"):
                        if self.tracer:
                            with self.tracer.span("collect.to_pandas"):
                                pdf = self._collect(df)
                        else:
                            pdf = self._collect(df)
                ms = _ms(t0)
                self.query_ms.append(ms)
                total += ms
                results[name] = pdf
                if self.tracer and pdf is not None:
                    tracker = df._jdf.queryExecution().tracker().phases()
                    for phase in ("analysis", "optimization", "planning"):
                        o = tracker.get(phase)
                        if o.isDefined():
                            phases[phase] = phases.get(phase, 0.0) + o.get().durationMs()
            self.pass_ms.append(total)
            self.results.append(results)
            self.phases.append(phases)
            p += 1
        self.window_s = now() - self.window_t0

    def _collect(self, df):
        try:
            return df.toPandas()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def check(self) -> None:
        """Every collected result equals its ORACLE_SQL run through DuckDB."""
        import duckdb

        from haf_plug_play_spark.queries.canonical import ORACLE_SQL
        from tests.compare import duck_result

        con = duckdb.connect()
        try:
            for table in os.listdir(self.sf_dir):
                view = table.removesuffix(".parquet")
                con.execute(f"CREATE VIEW {view} AS SELECT * FROM "
                            f"'{os.path.join(self.sf_dir, table)}'")
            for name in self.queries:
                want = row_bag(*duck_result(con, ORACLE_SQL[name]))
                for results in self.results:
                    pdf = results[name]
                    if pdf is None:
                        continue  # already counted as failed
                    if row_bag(*_pandas_rows(pdf)) != want:
                        print(f"{self.name}: {name} differs from DuckDB", file=sys.stderr)
                        self.failed += 1
        finally:
            con.close()

    def end_to_end(self) -> dict[str, float]:
        q_tail, pct, n = tail(self.query_ms)
        self.tails = {"op_tail_ms": (pct, n)}
        self.report = {
            "canonical_suite_s": (median(self.pass_ms) / 1000.0, "s"),
            "query_p50_ms": (median(self.query_ms), "ms"),
            "query_tail_ms": (q_tail, "ms"),
        }
        return {
            "throughput_per_s": len(self.query_ms) / self.window_s,
            "op_p50_ms": median(self.query_ms),
            "op_tail_ms": q_tail,
            "round_p50_ms": median(self.pass_ms),
        }

    def per_layer(self) -> dict[str, float]:
        t = self.tracer
        n_q = len(self.queries)
        passes = [self.query_ms[i * n_q:(i + 1) * n_q] for i in range(len(self.pass_ms))]
        builds = t.named("queries.canonical", self.window_t0)
        per_pass = [builds[i * n_q:(i + 1) * n_q] for i in range(len(passes))]
        construct_jobs = [
            sum(len(self.ledger.jobs(g)) for g in self.window_groups
                if g.startswith(f"p{i}-") and g.endswith("-construct"))
            for i in range(len(passes))
        ]
        out = {
            "sources.load_table_ms": median(
                [sum(t.total_ms(b, "sources.load_table") for b in bs) for bs in per_pass]
            ),
            "sources.load_table_calls": float(
                sum(len(t.within(b, "sources.load_table")) for b in per_pass[0])
            ),
            "sources.construct_jobs": float(construct_jobs[0]),
            "queries.construct_ms": median([s.ms for s in builds]),
            "collect.to_pandas_ms": median(
                [s.ms for s in t.named("collect.to_pandas", self.window_t0)]
            ),
        }
        for phase in ("analysis", "optimization", "planning"):
            out[f"catalyst.{phase}_ms"] = median([p.get(phase, 0.0) for p in self.phases])
        out.update(self._exec_metrics(len(self.pass_ms)))
        return out


WORKLOADS = {w.name: w for w in (SyncBulk, ServeMixed, AnalyticsCanonical)}
