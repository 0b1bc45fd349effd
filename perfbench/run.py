"""Indexer benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 4 --trace 0

Run from the repository root. Every run goes through the same phases,
each timed from outside the program:

1. set-up: Spark session and the seeded feed, written with pyarrow;
2. backfill: ``ingest.ingest_batch`` of the whole feed into empty tables;
3. refresh: ``runtime.refresh_operational`` over the backfilled tables;
4. serve: an open loop of front-end reads (``spark.sql``) against the
   materialized view directories at a fixed offered rate, at most
   ``nproc`` in flight, for ``--seconds`` seconds;
5. output checks, untimed.

With ``--trace 1`` the run also records spans, counts Spark jobs and
tasks per call, runs the per-layer probes (the analytical tier, the
staker-rewards table function, each view, decode, a reorg) and prints the per-layer metrics instead of the
end-to-end ones. The last stdout
line is the result; perfbench/README.md has the details.
"""

from __future__ import annotations

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import datetime  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from decimal import Decimal  # noqa: E402

ROOT = os.getcwd()
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
CPUS = os.cpu_count() or 4
# the driver heap, below the program's 8g default: see README.md
DRIVER_MEM = "2g"
WARMUP_READS = 100


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _dir_files(path: str) -> list[str]:
    """Data files of a parquet directory (no staging or metadata)."""
    return [
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if "/_" not in f[len(path) :] and "/." not in f[len(path) :]
    ]


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _dir_files(path))


def _norm(v):
    """A result cell in an engine-neutral form for comparison."""
    if isinstance(v, Decimal):
        return int(v) if v == v.to_integral_value() else float(f"{float(v):.9g}")
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if hasattr(v, "item"):  # numpy scalars
        return _norm(v.item())
    return v


def _rows_key(rows) -> list[tuple]:
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


def _window(rng: random.Random, hours: int) -> tuple[str, str]:
    a = datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=rng.randrange(hours))
    b = a + datetime.timedelta(hours=rng.randrange(2, 25))
    return tuple(f"TIMESTAMP '{t:%Y-%m-%d %H:%M:%S}'" for t in (a, b))


def _pool_state(rng, c) -> str:
    return (
        "SELECT pool_key_hash, sqrt_ratio, tick, liquidity, last_event_id "
        f"FROM pool_states WHERE pool_key_hash = '{rng.choice(c['pools'])}'"
    )


def _token_hourly(rng, c) -> str:
    ta, tb = _window(rng, c["hours"])
    form = rng.choice(["volume", "tvl", "price"])
    if form == "volume":
        return (
            "SELECT hour, SUM(volume) AS volume, SUM(fees) AS fees "
            f"FROM hourly_volume_by_token WHERE token = '{rng.choice(c['tokens'])}' "
            f"AND hour >= {ta} AND hour < {tb} GROUP BY hour"
        )
    if form == "tvl":
        return (
            "SELECT hour, SUM(delta) AS delta FROM hourly_tvl_delta_by_token "
            f"WHERE token = '{rng.choice(c['tokens'])}' AND hour >= {ta} AND hour < {tb} "
            "GROUP BY hour"
        )
    t0, t1 = rng.choice(c["pairs"])
    return (
        "SELECT hour, k_volume, total, swap_count FROM hourly_price_data "
        f"WHERE token0 = '{t0}' AND token1 = '{t1}' AND hour >= {ta} AND hour < {tb}"
    )


def _pool_stats_24h(rng, c) -> str:
    return f"SELECT * FROM last_24h_pool_stats WHERE key_hash = '{rng.choice(c['pools'])}'"


def _market_depth(rng, c) -> str:
    return (
        "SELECT depth_percent, depth0, depth1 FROM pool_market_depth "
        f"WHERE pool_key_hash = '{rng.choice(c['pools'])}'"
    )


def _voting_weights(rng, c) -> str:
    return (
        "SELECT delegate, voting_weight FROM proposal_delegate_voting_weights "
        f"WHERE proposal_id = '{rng.choice(c['proposals'])}'"
    )


# request kind -> (share of the read stream, SQL builder): the reads an
# Ekubo front end issues. No traffic trace exists to weight them, so the
# kinds get equal shares (an assumption, see README.md). Only pool state
# reads a per-block view; it alone is served in every run, the others
# after the traced run's probe_analytical.
OPERATIONAL_KINDS = {"pool_state": (1, _pool_state)}
ANALYTICAL_KINDS = {
    "token_hourly": (1, _token_hourly),
    "pool_stats_24h": (1, _pool_stats_24h),
    "market_depth": (1, _market_depth),
    "voting_weights": (1, _voting_weights),
}


@dataclass(frozen=True)
class Workload:
    n_blocks: int
    events_per_block: int
    #: offered pool-state reads per second: about a quarter of the
    #: measured read capacity, and spaced wider than a read's service
    #: time (README.md, "Rates")
    rate: float


WORKLOADS = {
    # a fresh node catching up: a large history, then reads of its views
    "backfill": Workload(n_blocks=200, events_per_block=350, rate=5.0),
    # front-end reads on the views of a small history, where a read's
    # cost is per-request overhead rather than data
    "serve": Workload(n_blocks=80, events_per_block=20, rate=5.0),
}


def build_requests(rng: random.Random, n: int, kinds: dict, context: dict):
    """The seeded read stream: ``n`` (kind, sql) pairs with each kind's
    count fixed by its share (every kind at least once), in seeded
    order."""
    total = sum(w for w, _ in kinds.values())
    stream = [k for k, (w, _) in kinds.items() for _ in range(max(1, round(n * w / total)))]
    rng.shuffle(stream)
    return [(kind, kinds[kind][1](rng, context)) for kind in stream]


class Run:
    def __init__(self, args):
        from perfbench.trace import Tracer

        self.args = args
        self.wl = WORKLOADS[args.workload]
        os.makedirs(RUNS_DIR, exist_ok=True)
        self.root = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=RUNS_DIR)
        self.tmp = os.path.join(self.root, "tmp")
        os.makedirs(self.tmp)
        # every scratch path of the program and of Spark lives in the run
        # root: nothing is shared with another run (silver.SILVER_CACHE_ROOT
        # follows tempfile.gettempdir(), hence TMPDIR)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.root, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TZ"] = "UTC"
        time.tzset()
        tempfile.tempdir = self.tmp
        self.feed = os.path.join(self.root, "feed")
        self.tables_dir = os.path.join(self.root, "tables")
        self.views_dir = os.path.join(self.root, "views")
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.failed: list[str] = []
        self.attempted = 0
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.phases: dict[str, float] = {}
        self.head = None  # last block the tables hold, once a reorg cut them
        self.served: list = []  # ((kind, sql), result) of every request
        self.request_log: list = []  # (kind, result, jobs, tasks), traced runs

    # -- phases ------------------------------------------------------------

    def setup(self) -> None:
        from perfbench.gen import (
            OPERATIONAL_FAMILIES,
            VIEW_FAMILIES,
            generate_chain,
            write_canonical,
        )
        from perfbench.trace import JobCounter
        from starknet_indexer_spark.session import get_spark

        with self.tracer.span("session.start") as s:
            self.spark = get_spark(
                "perfbench",
                **{
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(self.root, "warehouse"),
                    # a heap committed in full from the start, so the resident
                    # peak does not depend on how lazily the heap grew; no
                    # JVM perf file in the shared /tmp
                    "spark.driver.extraJavaOptions": (
                        f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
                    ),
                },
            )
        self.jobs = JobCounter(self.spark.sparkContext)
        self.chain = generate_chain(
            self.args.seed, self.wl.n_blocks, self.wl.events_per_block, families=VIEW_FAMILIES
        )
        # the end-to-end phases ingest the families the per-block tier
        # reads; the rest join in the traced run's analytical probe
        self.families = OPERATIONAL_FAMILIES
        write_canonical(self.chain, self.feed, families=self.families)
        self.e2e["setup_s"] = (time.monotonic() - PROCESS_START, "s")
        if s is not None:
            self.layer["session.start_s"] = (s.end - s.start, "s")

    def backfill(self) -> None:
        from starknet_indexer_spark import ingest
        from starknet_indexer_spark.sources.feed import read_feed_batch

        n = self.chain.n_events(families=self.families)
        with self.tracer.span("ingest.batch") as s, self.jobs.delta(s):
            t = time.monotonic()
            self.counts = ingest.ingest_batch(
                self.spark, read_feed_batch(self.spark, self.feed), self.tables_dir
            )
            dt = time.monotonic() - t
        self.e2e["ingest_events_per_s"] = (n / dt, "1/s")
        if s is not None:
            self.layer["ingest.batch_s"] = (dt, "s")
            self.layer["ingest.batch_jobs"] = (s.counts["jobs"], "count")
            self.layer["ingest.batch_tasks"] = (s.counts["tasks"], "count")
            nbytes = sum(os.path.getsize(f) for f in _dir_files(self.tables_dir))
            self.layer["ingest.bytes_per_event"] = (nbytes / n, "B")

    def refresh(self) -> None:
        """The per-block tier over the backfilled tables."""
        from perfbench.gen import BLOCK_SECONDS, GENESIS
        from starknet_indexer_spark import runtime

        # as_of = the head block's time, known from the feed
        head = GENESIS + datetime.timedelta(seconds=self.chain.last_valid_block() * BLOCK_SECONDS)
        self.as_of = head.replace(tzinfo=None)
        self.open_tables()
        with self.tracer.span("runtime.operational") as sp, self.jobs.delta(sp):
            t = time.monotonic()
            runtime.refresh_operational(self.tables, self.views_dir)
            self.e2e["operational_refresh_s"] = (time.monotonic() - t, "s")
        self._tier_metrics("operational", sp)

    def open_tables(self) -> None:
        """Every stored table, opened outside any timed window.
        (daemon.load_tables adds typed empty stand-ins for tables not
        yet written; it costs 12-25 s a process, for
        ingest.stored_schemas, and every table the refresh tiers read
        is written here.)"""
        self.tables = {
            name: self.spark.read.parquet(os.path.join(self.tables_dir, name))
            for name in sorted(os.listdir(self.tables_dir))
            if not name.startswith((".", "_"))
        }

    def _tier_metrics(self, tier: str, sp) -> None:
        if sp is not None:
            self.layer[f"runtime.{tier}_s"] = (sp.end - sp.start, "s")
            self.layer[f"runtime.{tier}_jobs"] = (sp.counts["jobs"], "count")
            self.layer[f"runtime.{tier}_tasks"] = (sp.counts["tasks"], "count")

    def register_views(self, names) -> None:
        """Materialized view directories as temp views."""
        for name in names:
            path = os.path.join(self.views_dir, name)
            self.spark.read.parquet(path).createOrReplaceTempView(name)

    def serve_context(self) -> dict:
        """The keys the read stream draws from: pools, tokens, token
        pairs, proposals (once stored) and the hours of history."""
        import pyarrow.parquet as pq

        def column(table, name):
            path = os.path.join(self.tables_dir, table)
            if not os.path.isdir(path):
                return []
            return pq.read_table(_dir_files(path), columns=[name]).column(name).to_pylist()

        hours = int((self.as_of - datetime.datetime(2024, 1, 1)).total_seconds() // 3600)
        return {
            "pools": sorted(column("pool_keys", "key_hash")),
            "tokens": [hex(t) for t in self.chain.tokens],
            "pairs": sorted({(hex(p.token0), hex(p.token1)) for p in self.chain.pools}),
            "proposals": sorted(set(column("governor_proposed", "id"))),
            "hours": max(1, hours),
        }

    def serve_loop(self, tag: str, requests, rate: float, warmup) -> tuple[list, list]:
        """Open loop: request i is due at start + i / rate, whether or not
        earlier ones finished; at most CPUS run at once, the rest queue.
        Returns per-request (status, rows, due, started, planned, done)
        and how late each was handed to the pool."""
        sc = self.spark.sparkContext
        traced = self.tracer.enabled

        def one(kind: str, sql: str, tag: str, due: float):
            started = time.monotonic()
            if traced:
                sc.setJobGroup(tag, kind)
            try:
                with self.tracer.span("serve.request", request=tag):
                    with self.tracer.span("sql_interface.plan", request=tag):
                        df = self.spark.sql(sql)
                    planned = time.monotonic()
                    with self.tracer.span("sql_interface.execute", request=tag):
                        rows = df.collect()
                return ("ok", rows, due, started, planned, time.monotonic())
            except Exception as exc:  # noqa: BLE001 — a failed request is counted, not fatal
                return ("error", repr(exc)[:300], due, started, None, time.monotonic())

        lateness = []
        with ThreadPoolExecutor(max_workers=CPUS) as pool:
            # untimed reads first, closed loop: per-shape planning, code
            # generation and the JIT of the read path are set-up, not serving
            now = time.monotonic()
            for f in [pool.submit(one, k, q, f"{tag}-warm-{i}", now) for i, (k, q) in enumerate(warmup)]:
                f.result()
            start = time.monotonic()
            futures = []
            for i, (kind, sql) in enumerate(requests):
                due = start + i / rate
                delay = due - time.monotonic()
                if delay > 0:
                    time.sleep(delay)
                lateness.append(time.monotonic() - due)
                futures.append(pool.submit(one, kind, sql, f"{tag}-{i}", due))
            results = [f.result() for f in futures]
        if traced:
            for i, ((kind, _), r) in enumerate(zip(requests, results)):
                jobs, tasks = self.jobs.for_group(f"{tag}-{i}")
                self.request_log.append((kind, r, jobs, tasks))
        self.served += list(zip(requests, results))
        return results, lateness

    def serve(self) -> None:
        from perfbench.trace import percentile

        self.register_views(["pool_states"])
        self.context = self.serve_context()
        rng = random.Random(self.args.seed * 7919 + 1)
        warmup = build_requests(rng, WARMUP_READS, OPERATIONAL_KINDS, self.context)
        n = round(self.wl.rate * self.args.seconds)
        requests = build_requests(rng, n, OPERATIONAL_KINDS, self.context)
        results, lateness = self.serve_loop("read", requests, self.wl.rate, warmup)
        lat = [r[5] - r[2] for r in results]
        self.e2e["latency_p50_s"] = (percentile(lat, 50), "s")
        self.latency_p90_s = percentile(lat, 90)
        self.generator = {
            "requests": len(lat),
            "offered_rate": self.wl.rate,
            "late_p50_s": percentile(lateness, 50),
            "late_max_s": max(lateness),
        }

    def serve_layer_metrics(self) -> None:
        """Per-request figures over every traced request."""
        ok = [r for _, r, _, _ in self.request_log if r[0] == "ok"]
        self.layer["sql_interface.plan_s"] = (statistics.median(r[4] - r[3] for r in ok), "s")
        self.layer["sql_interface.execute_s"] = (statistics.median(r[5] - r[4] for r in ok), "s")
        self.layer["serve.latency_p90_s"] = (self.latency_p90_s, "s")
        self.layer["serve.queue_wait_s"] = (
            statistics.median(r[3] - r[2] for _, r, _, _ in self.request_log), "s"
        )
        self.layer["serve.jobs_per_request"] = (
            statistics.mean(j for _, _, j, _ in self.request_log), "count"
        )
        self.layer["serve.tasks_per_request"] = (
            statistics.mean(t for _, _, _, t in self.request_log), "count"
        )
        for kind in {**OPERATIONAL_KINDS, **ANALYTICAL_KINDS}:
            mine = [r[5] - r[2] for k, r, _, _ in self.request_log if k == kind]
            self.layer[f"serve.{kind}_s"] = (statistics.median(mine), "s")

    # -- checks ------------------------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed.append(what)

    def check_tables(self, after: str = "") -> None:
        """Stored rows per table, the head block and pool_states against
        the generator's ground truth."""
        import pyarrow.parquet as pq

        for table, rows in sorted(self.chain.table_rows(self.families, self.head).items()):
            got = _parquet_rows(os.path.join(self.tables_dir, table))
            self.check(got == rows, f"{after}table {table}: {got} rows, expected {rows}")
            if not after and table != "pool_keys":
                said = self.counts.get(table)
                self.check(said == rows, f"ingest_batch reported {said} {table} rows, expected {rows}")
        blocks = pq.read_table(_dir_files(os.path.join(self.tables_dir, "blocks")))
        head = max(blocks.column("number").to_pylist())
        want_head = max(self.chain.canonical(self.families, self.head))
        self.check(head == want_head, f"{after}head block {head}, expected {want_head}")
        if after:
            return
        keys = pq.read_table(_dir_files(os.path.join(self.tables_dir, "pool_keys"))).to_pylist()
        ident = {
            k["key_hash"]: (k["token0"], k["token1"], int(k["fee"]), k["tick_spacing"], k["extension"])
            for k in keys
        }
        states = pq.read_table(_dir_files(os.path.join(self.views_dir, "pool_states"))).to_pylist()
        got = {ident.get(s["pool_key_hash"]): (s["tick"], int(s["liquidity"])) for s in states}
        for pool, want in sorted(self.chain.pool_states().items()):
            self.check(got.get(pool) == want, f"pool_states {pool}: {got.get(pool)} != {want}")

    def check_serve(self) -> None:
        """Every request against DuckDB running the same SQL over the
        same view parquet."""
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET TimeZone = 'UTC'")
            for name in os.listdir(self.views_dir):
                if "." not in name:
                    path = os.path.join(self.views_dir, name, "*.parquet")
                    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            want: dict[str, list] = {}
            for (kind, sql), res in self.served:
                if res[0] != "ok":
                    self.check(False, f"{kind} raised {res[1]}")
                    continue
                if sql not in want:
                    want[sql] = _rows_key(con.execute(sql).fetchall())
                self.check(_rows_key(res[1]) == want[sql], f"{kind} result differs: {sql}")
        finally:
            con.close()

    # -- traced-only probes ------------------------------------------------

    def probe_analytical(self) -> None:
        """Ingest the families only the 5-minute tier reads, run the
        tier's full rebuild (the boot pass), then a few reads of its
        views."""
        from perfbench.gen import ANALYTICAL_FAMILIES, VIEW_FAMILIES, write_canonical
        from starknet_indexer_spark import ingest, runtime
        from starknet_indexer_spark.runtime import ANALYTICAL, HOURLY
        from starknet_indexer_spark.sources.feed import read_feed_batch

        feed = os.path.join(self.root, "feed-analytical")
        write_canonical(self.chain, feed, families=ANALYTICAL_FAMILIES)
        with self.tracer.span("ingest.analytical_batch"):
            counts = ingest.ingest_batch(self.spark, read_feed_batch(self.spark, feed), self.tables_dir)
        for table, rows in counts.items():
            self.counts[table] = self.counts.get(table, 0) + rows
        self.families = VIEW_FAMILIES
        self.open_tables()
        with self.tracer.span("runtime.analytical") as sp, self.jobs.delta(sp):
            runtime.refresh_analytical(
                self.spark, self.tables, self.views_dir, self.as_of, since=None
            )
        self._tier_metrics("analytical", sp)
        self.register_views(ANALYTICAL + HOURLY)
        self.context = self.serve_context()
        rng = random.Random(self.args.seed * 7919 + 2)
        warmup = build_requests(rng, 2 * len(ANALYTICAL_KINDS), ANALYTICAL_KINDS, self.context)
        requests = build_requests(rng, 2 * len(ANALYTICAL_KINDS), ANALYTICAL_KINDS, self.context)
        self.serve_loop("analytical-read", requests, 4.0, warmup)

    def probe_staker_rewards(self) -> None:
        """The on-demand table function: install it the way
        install_sql_catalog does, call it once, check it against
        views.calculate_staker_rewards."""
        from starknet_indexer_spark import sql_interface
        from starknet_indexer_spark.views import VIEWS

        with self.tracer.span("sql_interface.install") as si:
            for name, df in self.tables.items():
                df.createOrReplaceTempView(name)
            sql_interface.install_staker_rewards_fn(self.spark, claimee_is_hex=True)
        self.layer["sql_interface.install_s"] = (si.end - si.start, "s")
        start = datetime.datetime(2024, 1, 1, 6)
        end = self.as_of
        with self.tracer.span("serve.staker_rewards") as sp:
            got = self.spark.sql(
                f"SELECT * FROM calculate_staker_rewards(TIMESTAMP '{start}', "
                f"TIMESTAMP '{end}', 1000000.0, 0.8, 0.2)"
            ).collect()
        self.layer["serve.staker_rewards_s"] = (sp.end - sp.start, "s")
        want = VIEWS["calculate_staker_rewards"](self.tables, start, end, 1e6, 0.8, 0.2).collect()
        self.check(_rows_key(got) == _rows_key(want), "calculate_staker_rewards differs")

    def probe_views(self) -> None:
        """Each view alone into the noop sink, upstream views read back
        from their materialized directories."""
        from starknet_indexer_spark.runtime import ANALYTICAL, HOURLY, OPERATIONAL
        from starknet_indexer_spark.views import VIEWS

        def read(name):
            return self.spark.read.parquet(os.path.join(self.views_dir, name))

        t = self.tables
        upstream = {
            "twamm_pool_states": lambda: (t, read("pool_states")),
            "twamm_sale_rate_deltas": lambda: (t, read("twamm_pool_states")),
            "limit_order_pool_states": lambda: (t, read("pool_states")),
            "last_24h_pool_stats": lambda: (
                t, read("hourly_volume_by_token"), read("hourly_tvl_delta_by_token"), self.as_of
            ),
            "token_pair_realized_volatility": lambda: (t, read("hourly_price_data")),
            "pool_market_depth": lambda: (t, read("per_pool_per_tick_liquidity")),
        }
        for name in OPERATIONAL + ANALYTICAL + HOURLY:
            view_args = upstream.get(name, lambda: (t,))()
            kwargs = {"since": None} if name in HOURLY else {}
            with self.tracer.span(f"views.{name}") as sp:
                VIEWS[name](*view_args, **kwargs).write.format("noop").mode("overwrite").save()
            self.layer[f"views.{name}_s"] = (sp.end - sp.start, "s")

    def probe_reorg(self) -> None:
        """Roll back the last 1-3 blocks with ingest.invalidate_from_block;
        the table checks then run again against the truth below them."""
        from starknet_indexer_spark import ingest

        last = self.chain.last_valid_block(self.families)
        first = last - random.Random(self.args.seed).randint(0, 2)
        before = {f: os.path.getmtime(f) for f in _dir_files(self.tables_dir)}
        with self.tracer.span("ingest.invalidate") as sp, self.jobs.delta(sp):
            ingest.invalidate_from_block(self.spark, self.tables_dir, first)
        rewritten = sum(
            os.path.getsize(f)
            for f in _dir_files(self.tables_dir)
            if before.get(f) != os.path.getmtime(f)
        )
        self.layer["ingest.invalidate_s"] = (sp.end - sp.start, "s")
        self.layer["ingest.invalidate_jobs"] = (sp.counts["jobs"], "count")
        self.layer["ingest.invalidate_bytes_rewritten"] = (rewritten, "B")
        self.head = first - 1
        self.check_tables(after="after reorg, ")

    def probe_decode(self) -> None:
        """decode.decode_events per family over the timed batch's feed,
        held in memory, into noop."""
        from pyspark.sql import functions as F

        from perfbench.gen import OPERATIONAL_FAMILIES
        from starknet_indexer_spark import decode
        from starknet_indexer_spark.ingest import EVENT_SELECTORS
        from starknet_indexer_spark.sources.feed import read_feed_batch

        raw = read_feed_batch(self.spark, self.feed).persist()
        raw.count()
        families = sorted(
            {e.family for evs in self.chain.canonical(OPERATIONAL_FAMILIES).values() for e in evs}
        )
        with self.tracer.span("decode.probe") as sp:
            for fam in families:
                with self.tracer.span(f"decode.{fam}"):
                    decode.decode_events(
                        raw.filter(F.get("keys", 0) == EVENT_SELECTORS[fam]), fam
                    ).write.format("noop").mode("overwrite").save()
        raw.unpersist()
        self.layer["decode.events_per_s"] = (
            self.chain.n_events(OPERATIONAL_FAMILIES) / (sp.end - sp.start), "1/s"
        )

    # -- running a workload ------------------------------------------------

    def phase(self, name: str, fn) -> None:
        t = time.monotonic()
        fn()
        self.phases[name] = round(time.monotonic() - t, 3)

    def execute(self) -> dict:
        self.phase("setup", self.setup)
        self.phase("backfill", self.backfill)
        self.phase("refresh", self.refresh)
        self.phase("serve", self.serve)
        jvm_pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()
        self.e2e["peak_rss_mb"] = ((_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024, "MB")
        if self.tracer.enabled:
            self.phase("probe_analytical", self.probe_analytical)
            self.phase("probe_staker_rewards", self.probe_staker_rewards)
            self.phase("probe_views", self.probe_views)
            self.phase("probe_decode", self.probe_decode)
        self.phase("check", lambda: (self.check_serve(), self.check_tables()))
        if self.tracer.enabled:
            self.phase("probe_reorg", self.probe_reorg)
            self.serve_layer_metrics()
            files = _dir_files(self.tables_dir)
            self.layer["catalog.table_files"] = (len(files), "count")
            self.layer["catalog.table_bytes"] = (sum(map(os.path.getsize, files)), "B")
            # tracing overhead: the traced run's end-to-end figures, to
            # set against an untraced run of the same seed
            for name, (v, unit) in self.e2e.items():
                self.layer[f"traced.{name}"] = (v, unit)
            self.tracer.dump(
                os.path.join(RUNS_DIR, f"spans-{self.args.workload}-{self.args.seed}.json")
            )
        metrics = self.layer if self.tracer.enabled else self.e2e
        return {
            "correct": not self.failed,
            "attempted": self.attempted,
            "failed": len(self.failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def close(self) -> None:
        """Stop Spark, wait for its JVM (and with it the Python workers)
        to exit, and remove the run's directory."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            self.spark.stop()
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.root, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "starknet_indexer_spark", "__init__.py")):
        print("perfbench: starknet_indexer_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run = Run(args)
    try:
        result = run.execute()
        for f in run.failed[:20]:
            print(f"FAILED: {f}", file=sys.stderr)
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "phases_s": run.phases, "serve_generator": run.generator}))
    finally:
        run.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
