"""The benchmark's workloads, their output checks and their metrics.

``head_follow``: a ``LogStore`` holding a cached history (two 50-block
micro-batches ingested by the program itself). After a warm-up of reads,
``nproc`` closed-loop clients issue the EP3 read mix for ``--seconds``;
then one client hands a winning fork to ``BlockIngestor.process_headers``,
issues a pinned tip read and runs the maintenance cadence.

``analytics_sf0.01``: one closed-loop client makes passes over five of the
registry queries ``bench.py`` gates, on a star schema generated from the
seed (:mod:`stargen`), and checks every answer against its DuckDB oracle.

What sizes both: a gated set of runs is 22 runs of each workload plus four,
within an hour. On 4 cores a 50-block batch runs ~100 Spark jobs and takes
15-25 s warm and 25-40 s as the first batch of a process, and a session
takes ~8 s to start, so a run affords one batch: ``head_follow`` runs
35-75 s, ``analytics_sf0.01`` 18-35 s, depending on how busy the host is.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import threading
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext
from datetime import datetime
from decimal import Decimal

import numpy as np

import chaingen as cg
import stargen as sg
import stats
from chaingen import ETH
from tracing import self_times, subtree

HISTORY_SEED = 1  # world and history: shared by every run, cached per checkout
HISTORY_BATCHES = 2
MIN_READS = 72  # twelve of each op; p75 has >= 10 samples beyond it
# The first timed passes are still warming up, so a run's median pass sits
# at a JIT stage set by how many passes it made; a floor above what
# --seconds allows makes every run take its median at the same stage.
MIN_PASSES = 5
RANGE_BLOCKS = 100
PLAN_LEN = 5000
WARM_READS = 8  # reads in the warm-up unit of head_follow
# Set-up ends with one untimed unit of each workload's own work (the
# warm-up rule): WARM_READS reads for head_follow, a pass for analytics. A
# fixed count makes every run and every commit time the same JIT stage. An
# untimed batch would warm the fork too, but costs 30-35 s a run, which a
# gated set of runs cannot afford; the timed fork is the process's first.
WARM_UNITS = 1
# Five of the 23 registry queries bench.py gates, pinned so the workload
# cannot drift: two TPC-H queries (aggregate; three-way join), the as-of
# join, the global running sum and one extension kernel (ANN cosine top-k),
# all with a DuckDB oracle. A pass takes 1-3 s warm on 4 cores and the cold
# one 7-15 s; all 23 take ~13 s warm plus a 33 s cold pass.
ANALYTICS_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "j2_asof_join_stream",
    "a10_global_running_sum", "x_ann_cosine_topk",
)
MAINTAIN_TABLES = (
    "block_headers", "transactions", "transaction_receipts", "receipt_logs",
    "transfers", "balances", "total_balances", "total_difficulty",
)
READ_OPS = (
    "latest_header", "header_by_number", "headers_in_range",
    "find_account", "find_total_balance", "tip_read",
)
QUERY_OPS = READ_OPS[:5]

STORE_WRITES = (
    "write_blocks", "retract_blocks", "update_dimension", "update_dimensions",
    "append_dimension", "optimize", "vacuum",
)
STORE_READS = ("read", "read_range", "read_eq")
SOURCE_CALLS = ("header_by_hash", "headers_range", "raw_tables_for")


class Bench:
    """State of one benchmark run: session, seed, tracer and check tally."""

    def __init__(self, spark, root: str, work: str, seed: int, seconds: int, tracer):
        self.spark = spark
        self.root = root
        self.work = work
        self.run_dir = os.path.join(work, "runs", str(os.getpid()))
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.detail: dict = {}
        self.layers: dict = {}
        self.timed_start: float | None = None
        self.cache_build_s = 0.0  # history-cache build, kept out of setup_s
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid() if spark else None

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and the driver JVM."""
        total = 0
        for pid in ("self", self.jvm_pid):
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rpartition(")")[2].split()
            total += int(f[11]) + int(f[12])
        return total / os.sysconf("SC_CLK_TCK")

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def set_rid(self, rid: str | None) -> None:
        if self.tracer:
            self.tracer.set_rid(rid)

    def query(self, op: str, make) -> list:
        """One EP3 call, consumed inside its span; traced runs also record
        how many files the answer's plan reads."""
        with self.span(f"plans.queries.{op}") as rec:
            df = make()
            rows = df.collect()
        if rec is not None:
            t = time.perf_counter()
            rec["files"] = len(df.inputFiles())
            self.tracer.charge(time.perf_counter() - t)
        return rows

    def instrument_store(self, store) -> None:
        tr = self.tracer
        tr.instrument(store, "sinks", STORE_WRITES + STORE_READS + ("max_block",), STORE_READS)
        take = store.snapshot

        def snapshot():
            with tr.span("sinks.snapshot"):
                snap = take()
            tr.instrument(snap, "sinks", STORE_READS + ("max_block",), STORE_READS)
            return snap

        store.snapshot = snapshot


# ---------------------------------------------------------------------------
# inputs and the history store
# ---------------------------------------------------------------------------


def history_chain() -> tuple[cg.Chain, list[cg.Step]]:
    chain = cg.Chain(cg.World(HISTORY_SEED))
    rng = np.random.default_rng(HISTORY_SEED)
    return chain, [chain.extend(rng) for _ in range(HISTORY_BATCHES)]


def code_key(root: str) -> str:
    """Digest of the indexer's sources, the generator and the history's
    shape: a cached store is reused only by the code that built it."""
    paths = [
        os.path.join(dirpath, f)
        for dirpath, _, files in os.walk(os.path.join(root, "eth_indexer_spark"))
        for f in files
        if f.endswith(".py")
    ]
    paths.append(os.path.join(root, "perfbench", "chaingen.py"))
    h = hashlib.sha256(f"{HISTORY_SEED}/{HISTORY_BATCHES}".encode())
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _raw(spark, pdf, key):
    from eth_indexer_spark.schema import RAW_SCHEMAS

    return spark.createDataFrame(pdf, RAW_SCHEMAS[key])


def _source(spark, chain: cg.Chain):
    from eth_indexer_spark.sources.blocks import PandasBlockSource

    f = chain.frames()
    return PandasBlockSource(spark, f["headers"], f["transactions"], f["receipts"], f["logs"])


def _extend_source(source, chain: cg.Chain) -> None:
    """Register every block generated since the source was last extended."""
    f = chain.frames(set(chain.blocks) - set(source.headers["hash"]))
    source.extend(f["headers"], f["transactions"], f["receipts"], f["logs"])


def history_store(b: Bench) -> str:
    """Path of the cached history store, built on first use in a checkout."""
    from eth_indexer_spark.sinks.logstore import LogStore
    from eth_indexer_spark.streaming.ingest import BlockIngestor

    final = os.path.join(b.work, "cache", f"history-{code_key(b.root)}")
    if os.path.exists(os.path.join(final, "READY")):
        return os.path.join(final, "store")
    t = time.perf_counter()
    tmp = os.path.join(b.work, "cache", f"build-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    chain, steps = history_chain()
    store = LogStore(b.spark, os.path.join(tmp, "store"))
    ing = BlockIngestor(
        b.spark, store, _source(b.spark, chain),
        _raw(b.spark, chain.world.subscriptions(), "subscriptions"),
        _raw(b.spark, chain.world.erc20(), "erc20"),
    )
    for step in steps:
        ing.process_headers(step.incoming)
    store.vacuum()
    open(os.path.join(tmp, "READY"), "w").close()
    try:
        os.rename(tmp, final)
    except OSError:  # a concurrent run published it first
        shutil.rmtree(tmp, ignore_errors=True)
    b.cache_build_s = time.perf_counter() - t
    return os.path.join(final, "store")


def _open_store(b: Bench, cached: str):
    from eth_indexer_spark.sinks.logstore import LogStore

    dst = os.path.join(b.run_dir, "store")
    shutil.copytree(cached, dst)
    return LogStore(b.spark, dst)


def _tree_size(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def warm_up(unit) -> list[float]:
    """The warm-up rule of every workload: ``WARM_UNITS`` untimed units of
    its own work. Returns their durations."""
    times = []
    for i in range(WARM_UNITS):
        t = time.perf_counter()
        unit(i)
        times.append(time.perf_counter() - t)
    return times


def maintain(store) -> None:
    """The LogStore maintenance cadence: compact the ingest tables, vacuum."""
    for t in MAINTAIN_TABLES:
        if store.exists(t):
            store.optimize(t)
    store.vacuum()


def _headers(rows) -> list[tuple[int, str]]:
    return sorted((r["number"], r["hash"]) for r in rows)


def _balance(rows) -> list[tuple[int, int]]:
    return [(r["block_number"], int(r["balance"])) for r in rows]


def tip_read(b: Bench, store, group: int) -> tuple:
    """Pinned tip read: one snapshot, its latest header, and the group's
    ETH total as-of that header."""
    from eth_indexer_spark.plans.queries import StoreQueries

    q = StoreQueries(store).snapshot()
    hdr = _headers(b.query("latest_header", q.latest_header))
    head = hdr[0][0] if hdr else 0
    tot = _balance(b.query("find_total_balance", lambda: q.find_total_balance(head, ETH, group)))
    return hdr, tot


def check_tip(b: Bench, ledger: cg.Ledger, group: int, ans: tuple, what: str) -> None:
    hdr, tot = ans
    head = ledger.head
    b.check(
        hdr == [(head, ledger.canonical[-1])] and total_ok(ledger, ETH, group, head, tot),
        f"{what}: header {hdr}, total {tot}",
    )


def total_ok(ledger: cg.Ledger, token: str, group: int, n: int, rows: list) -> bool:
    """A group total as-of ``n``; no row is the right answer for a zero total."""
    return len(rows) <= 1 and (rows[0][1] if rows else 0) == ledger.total_at(token, group, n)


# ---------------------------------------------------------------------------
# head_follow
# ---------------------------------------------------------------------------


def head_follow(b: Bench, clients: int) -> dict:
    from eth_indexer_spark.plans.queries import StoreQueries
    from eth_indexer_spark.streaming import ingest
    from eth_indexer_spark.streaming.ingest import BlockIngestor

    cached = history_store(b)
    chain, hist = history_chain()
    store = _open_store(b, cached)
    source = _source(b.spark, chain)
    # the load generator, before anything is timed: one read plan per
    # client on the history, then a winning fork whose depth (2-24) the seed
    # sets, so the indexer walks back, retracts and replays
    rng = np.random.default_rng([b.seed, 0])
    plans = [read_plan(np.random.default_rng([b.seed, 2, c]), chain.world, len(hist[-1].canonical), PLAN_LEN)
             for c in range(clients + 1)]
    warm_plan = plans.pop()
    fork = chain.fork(rng, cg.fork_depth(rng))
    _extend_source(source, chain)
    group = int(rng.integers(cg.N_GROUPS))

    ing = BlockIngestor(
        b.spark, store, source,
        store.read("subscriptions").localCheckpoint(),
        _raw(b.spark, chain.world.erc20(), "erc20"),
    )
    q = StoreQueries(store)
    if b.tracer:
        b.instrument_store(store)
        b.tracer.instrument(source, "sources", SOURCE_CALLS)
        b.tracer.instrument(ing, "streaming.ingest", ("process_headers",))
        b.tracer.rebind(ingest, "check_reorg", "streaming.reorg.check_reorg")

    warm_reads = []  # (op, args, answer)

    def warm_unit(i: int) -> None:
        b.set_rid(f"warm{i}")
        for op, args in warm_plan[i * WARM_READS:(i + 1) * WARM_READS]:
            warm_reads.append((op, args, run_read(b, q, store, op, args)))

    b.detail["warmup_s"] = warm_up(warm_unit)

    # -- timed region: the read mix, then the fork, its pinned tip read and
    # the maintenance cadence
    mark = b.tracer.mark() if b.tracer else None
    b.timed_start = t0 = time.perf_counter()
    c0 = b.cpu_s()
    reads = read_phase(b, q, store, plans, t0)
    read_wall = time.perf_counter() - t0
    read_cpu_s = b.cpu_s() - c0
    before = _tree_size(store.root) if b.tracer else None
    b.set_rid("fork")
    c0 = b.cpu_s()
    t = time.perf_counter()
    action = ing.process_headers(fork.incoming)
    fork_s = time.perf_counter() - t
    fork_cpu_s = b.cpu_s() - c0
    after = _tree_size(store.root) if b.tracer else None
    with b.span("head_follow.tip_read"):
        t = time.perf_counter()
        tip = tip_read(b, store, group)
        tip_s = time.perf_counter() - t
    t = time.perf_counter()
    with b.span("head_follow.maintain"):
        maintain(store)
    maintain_s = time.perf_counter() - t
    spent = b.tracer.since(mark) if b.tracer else None
    client_s = read_wall * clients + time.perf_counter() - t0 - read_wall
    b.set_rid("check")

    # -- output checks (outside the timed region) --------------------------
    ledger = cg.Ledger(chain, hist[-1].canonical, cg.BATCH_BLOCKS)
    for op, args, ans in warm_reads:
        check_read(b, ledger, op, args, ans)
    for op, args, dt, ans, err in reads:
        if err is not None:
            b.check(False, f"{op}{args} raised:\n{err}")
        else:
            check_read(b, ledger, op, args, ans)
    b.check(action == "reorg", f"fork: action {action}")
    ledger = cg.Ledger(chain, fork.canonical, cg.BATCH_BLOCKS)
    check_tip(b, ledger, group, tip, "tip read after the fork")
    stored = _headers(store.read("block_headers").select("number", "hash").collect())
    b.check(stored == list(enumerate(fork.canonical, start=1)), "stored headers differ from the canonical chain")
    n_reorgs = store.read("reorgs").count() if store.exists("reorgs") else 0
    b.check(n_reorgs == 1, f"reorgs rows {n_reorgs} after one fork")
    check_final_state(b, store, ledger)

    lat = [r[2] for r in reads]
    by_op = defaultdict(list)
    for op, _, dt, _, _ in reads:
        by_op[op].append(dt)
    tail_q = stats.highest_supported(len(lat))
    _, size = _tree_size(store.root)
    head = len(fork.canonical)
    b.detail.update(
        fork_depth=fork.depth, head=head, clients=clients,
        reorg_recover_s=fork_s, fork_cpu_s=fork_cpu_s, read_cpu_ms=read_cpu_s / len(reads) * 1000,
        ingest_blocks_per_s=cg.BATCH_BLOCKS / fork_s,  # a fork replays its whole branch
        tip_read_ms=tip_s * 1000,
        maintain_s=maintain_s,
        reads=len(lat),
        read_p50_ms=stats.median(lat) * 1000,
        read_tail_percentile=tail_q,
        read_tail_ms=stats.percentile(lat, tail_q) * 1000,
        reads_per_s=len(lat) / read_wall,
        op_p50_ms={op: stats.median(v) * 1000 for op, v in sorted(by_op.items())},
        store_bytes_per_block=size / head,
    )
    if b.tracer:
        rids = {"fork"} | {f"c{c}.{i}" for c in range(clients) for i in range(PLAN_LEN)}
        # bookkeeping is summed over the clients: share of client time
        b.layers = layer_metrics(b.tracer, rids, spent, client_s)
        b.layers["sinks.files_added_per_batch"] = after[0] - before[0]
        b.layers["sinks.bytes_written_per_batch"] = after[1] - before[1]
        b.layers["sinks.store_bytes_per_block"] = size / head
        check_self_sums(b, {"fork"})
    return {
        "latency_p50_ms": stats.median(lat) * 1000,
        "latency_tail_ms": fork_s * 1000,
        "throughput_per_s": len(lat) / read_wall,
    }


def read_phase(b: Bench, q, store, plans: list[list[tuple]], t0: float) -> list[tuple]:
    """One closed-loop client thread per plan, sharing the session, until
    ``b.seconds`` have passed since ``t0`` and ``MIN_READS`` reads are done.
    Returns every read as (op, args, seconds, answer, error)."""
    results: list[list] = [[] for _ in plans]
    done = [0]
    lock = threading.Lock()
    stop = threading.Event()

    def client(c: int) -> None:
        for i, (op, args) in enumerate(plans[c]):
            if stop.is_set():
                return
            b.set_rid(f"c{c}.{i}")
            t = time.perf_counter()
            try:
                ans, err = run_read(b, q, store, op, args), None
            except Exception:  # a failed read counts against the run, which goes on
                ans, err = None, traceback.format_exc()
            results[c].append((op, args, time.perf_counter() - t, ans, err))
            with lock:
                done[0] += 1

    threads = [threading.Thread(target=client, args=(c,)) for c in range(len(plans))]
    for t in threads:
        t.start()
    while not stop.is_set():
        time.sleep(0.02)
        with lock:
            n = done[0]
        if (time.perf_counter() - t0 >= b.seconds and n >= MIN_READS) or not any(
            t.is_alive() for t in threads
        ):
            stop.set()
    for t in threads:
        t.join(timeout=120)
        if t.is_alive():
            raise RuntimeError("a read client did not finish")
    return [r for rows in results for r in rows]


def check_final_state(b: Bench, store, ledger: cg.Ledger) -> None:
    """Latest ``balances`` and ``total_balances`` rows against the ledger."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    def latest(table: str, keys: list[str]) -> dict:
        w = W.partitionBy(*keys).orderBy(F.desc("block_number"))
        rows = (
            store.read(table).withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).select(*keys, "balance").collect()
        )
        return {tuple(r[k] for k in keys): int(r["balance"]) for r in rows}

    got = latest("balances", ["token", "address"])
    want = ledger.balances_at_head()
    bad = [k for k in want.keys() | got.keys() if got.get(k) != want.get(k)]
    b.check(not bad, f"balances at head: {len(bad)} of {len(want)} keys differ")
    got_t = latest("total_balances", ["token", "group"])
    want_t = ledger.totals_at_head()
    bad = [k for k in want_t.keys() | got_t.keys() if got_t.get(k, 0) != want_t.get(k, 0)]
    b.check(not bad, f"total_balances at head: {len(bad)} keys differ")


def check_self_sums(b: Bench, rids: set[str]) -> None:
    """Self times of each batch's spans add up to its process_headers span."""
    spans = b.tracer.spans
    selfs = self_times(spans)
    for root in spans:
        if root["name"] == "streaming.ingest.process_headers" and root["rid"] in rids:
            total = sum(selfs[s["id"]] for s in subtree(spans, root["id"]))
            b.check(abs(total - (root["end"] - root["start"])) < 1e-6, f"{root['rid']}: self times")


# ---------------------------------------------------------------------------
# the EP3 read mix
# ---------------------------------------------------------------------------


def read_plan(rng: np.random.Generator, world: cg.World, head: int, n: int) -> list[tuple]:
    """The load generator of one read client: ``n`` (op, args) pairs. The
    client cycles through ``READ_OPS`` in a seeded order per round, so each
    op is an equal share of its reads whatever the seed: an arbitrary mix
    (no production read mix was available), kept equal so that the median
    over the mix does not move with how many slow ops a seed drew.
    Addresses follow a Zipf law over the subscribed set; as-of blocks are
    uniform over the whole history from the subscription stamp to the
    head."""
    subs = world.subscribed
    tokens = [ETH] + world.tokens
    ops = np.concatenate([rng.permutation(len(READ_OPS)) for _ in range(-(-n // len(READ_OPS)))])[:n]
    tok = np.where(rng.random(n) < 0.6, 0, rng.integers(1, len(tokens), size=n))
    addr = rng.choice(len(subs), n, p=cg._zipf_p(len(subs), cg.ZIPF_S))
    asof = rng.integers(cg.BATCH_BLOCKS, head + 1, size=n)
    group = rng.integers(cg.N_GROUPS, size=n)
    number = rng.integers(1, head + 1, size=n)
    lo = rng.integers(1, head - RANGE_BLOCKS + 2, size=n)
    plan = []
    for i in range(n):
        op = READ_OPS[ops[i]]
        token = tokens[tok[i]]
        args = {
            "latest_header": (),
            "header_by_number": (int(number[i]),),
            "headers_in_range": (int(lo[i]), int(lo[i]) + RANGE_BLOCKS - 1),
            "find_account": (token, subs[addr[i]], int(asof[i])),
            "find_total_balance": (int(asof[i]), token, int(group[i])),
            "tip_read": (int(group[i]),),
        }[op]
        plan.append((op, args))
    return plan


def run_read(b: Bench, q, store, op: str, args: tuple):
    if op == "tip_read":
        return tip_read(b, store, *args)
    if op in ("latest_header", "header_by_number", "headers_in_range"):
        return _headers(b.query(op, lambda: getattr(q, op)(*args)))
    return _balance(b.query(op, lambda: getattr(q, op)(*args)))


def check_read(b: Bench, ledger: cg.Ledger, op: str, args: tuple, ans) -> None:
    canon = ledger.canonical
    what = f"{op}{args}"
    if op == "latest_header":
        b.check(ans == [(ledger.head, canon[-1])], what)
    elif op == "header_by_number":
        b.check(ans == [(args[0], canon[args[0] - 1])], what)
    elif op == "headers_in_range":
        lo, hi = args
        b.check(ans == [(n, canon[n - 1]) for n in range(lo, hi + 1)], what)
    elif op == "find_account":
        token, address, n = args
        want = ledger.balance_at(token, address, n)
        b.check(
            (ans == []) if want is None else (len(ans) == 1 and ans[0][0] <= n and ans[0][1] == want),
            what,
        )
    elif op == "find_total_balance":
        n, token, group = args
        b.check(total_ok(ledger, token, group, n, ans), what)
    else:
        check_tip(b, ledger, args[0], ans, what)


# ---------------------------------------------------------------------------
# analytics_sf0.01
# ---------------------------------------------------------------------------


def canon(v) -> str:
    """One result cell in the form Spark and DuckDB answers compare in."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if v != v else repr(v)
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def signature(pdf) -> tuple[int, list[str], str]:
    """Row count, sorted column names and an order-insensitive value hash."""
    cols = sorted(pdf.columns)
    rows = sorted(tuple(canon(v) for v in row) for row in pdf[cols].itertuples(index=False))
    return len(rows), cols, hashlib.sha256(repr(rows).encode()).hexdigest()


def check_answer(b: Bench, what: str, got: tuple, want: tuple) -> None:
    """An answer against its oracle's, which must not be empty."""
    b.check(want[0] > 0 and got == want, f"{what}: {got[:2]} against oracle {want[:2]}")


def analytics(b: Bench) -> dict:
    import __spark_entry__ as entry

    registry = entry.queries()
    oracle = entry.oracle_sql()
    data = os.path.join(b.run_dir, "stars")
    sg.write(sg.generate(b.seed), data)
    layer = {q: registry[q].__module__.removeprefix("eth_indexer_spark.") for q in ANALYTICS_QUERIES}

    def run_query(q: str):
        with b.span(f"{layer[q]}.{q}"):
            t = time.perf_counter()
            pdf = registry[q](b.spark, data).toPandas()
            return pdf, time.perf_counter() - t

    def warm_pass(i: int) -> None:
        b.set_rid(f"warm{i}")
        for q in ANALYTICS_QUERIES:
            warm[q] = run_query(q)[0]
            b.spark.catalog.clearCache()

    warm: dict = {}
    b.detail["warmup_s"] = warm_up(warm_pass)

    passes, pass_s, pass_cpu, query_s = [], [], [], defaultdict(list)
    mark = b.tracer.mark() if b.tracer else None
    b.timed_start = t0 = time.perf_counter()
    paused = 0.0
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 - paused < b.seconds:
        b.set_rid(f"pass{len(passes)}")
        answers = {}
        c0 = b.cpu_s()
        tp0 = time.perf_counter()
        pass_paused = 0.0
        for q in ANALYTICS_QUERIES:
            answers[q], dt = run_query(q)
            query_s[q].append(dt)
            tp = time.perf_counter()
            b.spark.catalog.clearCache()  # a plan's own persists must not warm its next run
            pass_paused += time.perf_counter() - tp
        pass_s.append(time.perf_counter() - tp0 - pass_paused)
        pass_cpu.append(b.cpu_s() - c0)
        paused += pass_paused
        passes.append(answers)
    wall = time.perf_counter() - t0 - paused
    spent = b.tracer.since(mark) if b.tracer else None
    b.set_rid("check")

    # -- output checks (outside the timed region) --------------------------
    import duckdb

    con = duckdb.connect()
    for t in sg.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data, t)}.parquet')")
    want = {q: signature(con.execute(oracle[q]).df()) for q in ANALYTICS_QUERIES}
    con.close()
    for i, answers in enumerate([warm] + passes):
        for q, pdf in answers.items():
            check_answer(b, f"pass{i - 1} {q}" if i else f"warm {q}", signature(pdf), want[q])

    lat = [dt for v in query_s.values() for dt in v]
    b.detail.update(
        passes=len(passes), queries=len(ANALYTICS_QUERIES),
        analytics_pass_s=stats.median(pass_s), pass_cpu_s=stats.median(pass_cpu),
        query_p50_s={q: stats.median(v) for q, v in query_s.items()},
    )
    if b.tracer:
        rids = {f"pass{i}" for i in range(len(passes))}
        b.layers = layer_metrics(b.tracer, rids, spent, wall)
        b.layers.update(analytics_layers(b.tracer, rids, layer))
    return {
        "latency_p50_ms": stats.median(lat) * 1000,
        "latency_tail_ms": stats.median(pass_s) * 1000,
        "throughput_per_s": len(lat) / wall,
    }


def analytics_layers(tracer, rids: set[str], layer: dict[str, str]) -> dict:
    """Per-query medians, per-module pass sums and Spark work per pass."""
    per_pass = defaultdict(lambda: defaultdict(float))  # rid -> key -> sum
    per_query = defaultdict(list)
    by_id = {s["id"]: s for s in tracer.spans}
    for s in tracer.spans:
        if s["rid"] not in rids or s["parent"] in by_id:
            continue
        q = s["name"].rpartition(".")[2]
        if q not in layer:
            continue
        d = s["end"] - s["start"]
        per_query[q].append(d)
        acc = per_pass[s["rid"]]
        acc[layer[q]] += d
        for x in subtree(tracer.spans, s["id"]):
            acc["jobs"] += x.get("jobs", 0)
            acc["tasks"] += x.get("tasks", 0)
    passes = list(per_pass.values())
    out = {f"{layer[q]}.{q}_s": stats.median(v) for q, v in per_query.items()}
    for key, name in (
        ("plans.analytics", "plans.analytics.domain_s"),
        ("plans.extensions", "plans.extensions.curation_s"),
        ("jobs", "spark.jobs_per_pass"),
        ("tasks", "spark.tasks_per_pass"),
    ):
        out[name] = stats.median([p[key] for p in passes])
    return out


# ---------------------------------------------------------------------------
# per-layer metrics from the spans of the timed region
# ---------------------------------------------------------------------------


def layer_metrics(tracer, rids: set[str], spent: tuple, client_s: float) -> dict:
    """Per-layer figures from the spans of the timed region; ``spent`` is
    the (GC, bookkeeping) seconds of that region, ``client_s`` its client
    time."""
    tracer.resolve_jobs()
    spans = [s for s in tracer.spans if s["rid"] in rids]
    selfs = self_times(tracer.spans)
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)

    def dur(s):
        return s["end"] - s["start"]

    def med(xs):
        return stats.median(xs) if xs else 0.0

    def per_rid(name):  # summed per batch/request, over those that ran it
        acc = defaultdict(float)
        for s in by_name[name]:
            acc[s["rid"]] += dur(s)
        return list(acc.values())

    def tree(s, key):
        return sum(x.get(key, 0) for x in subtree(tracer.spans, s["id"]))

    check = by_name["streaming.reorg.check_reorg"]
    check_ids = {s["id"] for s in check}
    ph = by_name["streaming.ingest.process_headers"]
    reads = [s["files"] for n in STORE_READS for s in by_name[f"sinks.{n}"] if "files" in s]
    out = {
        "sources.raw_tables_for_s": med(per_rid("sources.raw_tables_for")),
        "sources.header_by_hash_calls": len(by_name["sources.header_by_hash"]),
        "streaming.reorg.check_reorg_ms": med([dur(s) for s in check]) * 1000,
        "streaming.reorg.walk_lookups": sum(
            1 for s in by_name["sources.header_by_hash"] if s["parent"] in check_ids
        ),
        "streaming.ingest.self_s": med([selfs[s["id"]] for s in ph]),
        "streaming.ingest.spark_jobs_per_batch": med([tree(s, "jobs") for s in ph]),
        "streaming.ingest.spark_tasks_per_batch": med([tree(s, "tasks") for s in ph]),
        "sinks.write_blocks_s": med(per_rid("sinks.write_blocks")),
        "sinks.update_dimensions_s": med(per_rid("sinks.update_dimensions")),
        "sinks.retract_blocks_s": med([dur(s) for s in by_name["sinks.retract_blocks"]]),
        "sinks.optimize_s": med(per_rid("sinks.optimize")),
        "sinks.vacuum_s": med([dur(s) for s in by_name["sinks.vacuum"]]),
        "sinks.write_blocks.spark_jobs": med([tree(s, "jobs") for s in by_name["sinks.write_blocks"]]),
        "sinks.files_added_per_batch": 0,
        "sinks.bytes_written_per_batch": 0,
        "sinks.files_listed_per_read": med(reads),
        "jvm.gc_s": spent[0],
        "trace.overhead_frac": spent[1] / client_s,
    }
    for n in ("max_block", "read_range", "read_eq", "snapshot"):
        out[f"sinks.{n}_ms"] = med([dur(s) for s in by_name[f"sinks.{n}"]]) * 1000
    for op in QUERY_OPS:
        calls = by_name[f"plans.queries.{op}"]
        out[f"plans.queries.{op}_p50_ms"] = med([dur(s) for s in calls]) * 1000
        out[f"plans.queries.{op}.spark_jobs"] = med([tree(s, "jobs") for s in calls])
        out[f"plans.queries.{op}.files_scanned"] = med([s["files"] for s in calls if "files" in s])
    return out
