"""Streaming ingest shell (SURVEY §2.1 S1/S6, §2.9, §7.5): the EP1 lifecycle
(service/indexer/indexer.go:122-327) as Structured Streaming ``foreachBatch``
over micro-batches of block headers.

Per micro-batch:

1. **Order + dedup** — sort by number, drop (number, hash) duplicates, drop
   headers already stored verbatim (old-block skip, indexer.go:141-144).
2. **Reorg check** (:mod:`eth_indexer_spark.streaming.reorg`) — parent-hash
   continuity against the stored head; fork ⇒ TD race ⇒ either ignore or
   retract [fork+1, head] and replay the new branch; gap ⇒ backfill headers
   from the source first (indexer.go:218-246).
3. **Ingest** in chunks of ≤ ``MAX_BLOCKS_PER_BATCH`` (= the reference's
   ``maxBlocksToInsert`` 50, indexer.go:39): fetch the raw tables for the
   chunk's block hashes (S2/S3 seam), run the batch transform pipeline
   (pipeline/transform.py) seeded from the store's current state, and commit
   through the idempotent overwrite-by-block-range sink (sinks/logstore.py)
   — ONE commit per chunk, carrying the latest-state dimensions and any
   subscription stamps. A winning fork's first chunk also carries the
   retraction of the losing branch and the ``reorgs`` row, so a reader sees
   the old branch or the new one, never the head stepped back to the fork
   point; later chunks of a deep replay commit one each.

Scale notes: only the *headers* of a micro-batch are driver-resident (tiny,
bounded by the trigger); the raw tables, pipeline, and sink writes are all
distributed. The batch's ``headers``, ``events`` and ``fees`` (and the
``deltas``, ``snapshots`` and ``totals`` derived from them) are materialized
once with ``localCheckpoint``, so the header-reward join and the ABI decode
run once per batch, not once per action that reads them. What the batch
asks the store — recent headers, total difficulty, a dimension's newest
block — is read on the driver from the log's pruned file list, and the
uint256 fast path and the subscription guards fail the checkpoint jobs by
name instead of running probe jobs first, so a batch runs no Spark job
that only answers a question. The batch stays in the JVM: the ABI decode
is a JVM expression and driver-built frames cross as Arrow, so a batch
whose amounts fit the 30-digit fast path starts no Python worker (a
plugged-in ``balancer`` seam is a ``mapInPandas``). The
strictly-sequential constraint the reference enforces with a single
consumer thread (indexer.go:137-139) is needed only for the carry-forward
aggregates, which the pipeline expresses as per-key windowed
prefix sums *within* the batch and seeds *across* batches from the store —
batches commit in order because foreachBatch is serial per query.
"""

from __future__ import annotations

from datetime import datetime, timezone

import pandas as pd
from pyspark.errors import SparkRuntimeException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from eth_indexer_spark.pipeline import transform as X
from eth_indexer_spark.schema import (
    BLOCK_HEADERS,
    ERC20,
    ETH_TOKEN,
    RAW_SCHEMAS,
    REORGS,
)
from eth_indexer_spark.session import raised_message
from eth_indexer_spark.sinks.logstore import LogStore
from eth_indexer_spark.streaming.reorg import ReorgDecision, check_reorg

# the reference's maxBlocksToInsert (indexer.go:38-40)
MAX_BLOCKS_PER_BATCH = 50
# stored-header lookup window for fork detection = max detectable reorg depth
REORG_WINDOW = 512

_HEADER_COLS = [f.name for f in BLOCK_HEADERS.fields]


def _fast_then_exact(run):
    """``run(exact)`` on the guarded uint256 fast path, and once more on
    the exact path if a value overflows it (``X.FAST_PATH_OVERFLOW``).
    Any other ``raise_error`` (a subscription guard) becomes the
    ValueError the reference raises. ``run`` must materialize what it
    returns, so its job fails here."""
    for exact in (False, True):
        try:
            return run(exact)
        except SparkRuntimeException as e:
            msg = raised_message(e)
            if msg is None:
                raise
            if exact or not msg.startswith(X.FAST_PATH_OVERFLOW):
                raise ValueError(msg) from e


class BlockIngestor:
    """Drives source → pipeline → sink for one chain. Holds no state beyond
    the store — head/TD are re-read per batch, so a restarted job resumes
    exactly where the store left off (checkpoint-free idempotency; the
    streaming checkpoint only positions the *source*)."""

    def __init__(
        self,
        spark: SparkSession,
        store: LogStore,
        source,
        subscriptions: DataFrame,
        erc20: DataFrame,
        balancer=None,
        metadata_fn=None,
    ):
        self.spark = spark
        self.store = store
        self.source = source
        self.subscriptions = subscriptions
        self.erc20 = erc20
        # optional chain-state lookup seam (sources/chain.py LookupFn) for
        # new-subscription opening balances, like the reference's batched
        # balance RPC (client/balancer.go:43-116): O(new subs × tokens) per
        # batch. The default, balancer=None, derives openings from the
        # engine's own stored ledger instead — an O(stored history) scan
        # per new-sub batch that needs no node RPC
        self.balancer = balancer
        # optional token-metadata seam (sources/chain.py MetadataFn) backing
        # register_token when the caller omits name/total_supply/decimals —
        # the reference reads them from the contract (client/client.go:112-148)
        self.metadata_fn = metadata_fn

    @property
    def subscriptions(self) -> DataFrame:
        return self._subs

    @subscriptions.setter
    def subscriptions(self, df: DataFrame) -> None:
        self._subs = df
        self._subs_rows: pd.DataFrame | None = None

    def _subscription_rows(self) -> pd.DataFrame:
        """Driver-side mirror of :attr:`subscriptions` (a dimension of
        addresses, not of blocks): a batch reads stamps from it without a
        Spark job. Collected on first use after the frame is set, then kept
        current by every commit that stamps or resets subscriptions."""
        if self._subs_rows is None:
            self._subs_rows = self._subs.toPandas()
        return self._subs_rows

    # -- stored-chain state (read on the driver: no Spark job) -----------------

    def _stored_recent(self) -> dict[int, dict]:
        head = self.store.max_block("block_headers")
        if head is None:
            return {}
        rows = self.store.lookup(
            "block_headers", head - REORG_WINDOW, head, ["number", "hash", "parent_hash"]
        )
        return {
            int(n): {"number": int(n), "hash": h, "parent_hash": p}
            for n, h, p in zip(rows["number"], rows["hash"], rows["parent_hash"])
        }

    def _td_at(self, n: int) -> int:
        if n < 0:
            return 0
        rows = self.store.lookup("total_difficulty", n, n, ["td"])
        return int(rows["td"].iloc[0]) if len(rows) else 0

    # -- entry points ----------------------------------------------------------

    def process_headers(self, headers: list[dict]) -> str:
        """Apply one micro-batch of raw header dicts. Returns the action."""
        seen: dict[tuple[int, str], dict] = {}
        for h in sorted(headers, key=lambda x: x["number"]):
            seen[(h["number"], h["hash"])] = h
        incoming = list(seen.values())

        decision = check_reorg(
            self._stored_recent(), incoming, self.source.header_by_hash, self._td_at
        )
        self._apply(decision)
        return decision.action

    def process_batch(self, headers_df: DataFrame, batch_id: int | None = None) -> str:
        """foreachBatch adapter."""
        return self.process_headers([r.asDict() for r in headers_df.collect()])

    # -- EP2: token registration ------------------------------------------------

    def register_token(
        self,
        address: str,
        name: str | None = None,
        total_supply: str | None = None,
        decimals: int | None = None,
        at_block: int | None = None,
    ) -> None:
        """EP2 (service/indexer/indexer.go:88-120, store/account/account.go:
        81-123, store/new_erc20.go:41-175): register an ERC20 token — upsert
        the registry row stamped with the registration block, and backfill
        ``total_balances`` for every subscription group from the stored
        balances as-of that block. The reference additionally CREATEs two
        per-token tables; the token partition column makes that a no-op here
        (SURVEY §1.1).

        Every frame is built from the pre-registration state and the
        registry row, the per-address openings, the group totals and both
        latest-state dimensions publish as ONE commit: a snapshot never sees
        the new token's balances beside the old totals.

        Metadata fields left as None are read from the contract through the
        ``metadata_fn`` seam (client/client.go:112-148 — name/totalSupply/
        decimals eth_calls; deterministic fake when no node is plugged in)."""
        if name is None or total_supply is None or decimals is None:
            from eth_indexer_spark.sources.chain import fetch_token_metadata

            meta = fetch_token_metadata(address, self.metadata_fn)
            name = meta["name"] if name is None else name
            total_supply = meta["total_supply"] if total_supply is None else total_supply
            decimals = meta["decimals"] if decimals is None else decimals
        if at_block is None:
            stored = self._stored_recent()
            at_block = max(stored) if stored else 0

        row = {
            "address": address,
            "block_number": at_block,
            "total_supply": total_supply,
            "decimals": decimals,
            "name": name,
        }
        # pandas, not a list: a list ships as a PythonRDD and starts workers
        new = self.spark.createDataFrame(pd.DataFrame([row], columns=ERC20.names), ERC20)
        erc20 = new
        if self.store.exists("erc20"):
            erc20 = self.store.read("erc20").filter(F.col("address") != address).unionByName(new)
        tables: dict[str, DataFrame] = {}
        dims = {"erc20": erc20}
        if self.store.exists("balances"):
            balances = self.store.read("balances")
            backfill = _fast_then_exact(
                lambda exact: X.new_token_backfill(
                    balances, self.subscriptions, address, at_block, exact=exact
                ).localCheckpoint()
            )
            # per-address opening rows for the token — the reference's
            # new_erc20.go inserts a balance row for every subscription page
            # (new_erc20.go:41-175, balancer-fetched); ledger-derived here:
            # latest stored token balance as-of the registration block, 0 for
            # non-holders. Keeps the old-sub missing-prev guard satisfiable
            # for post-registration activity.
            w = W.partitionBy("address").orderBy(F.desc("block_number"))
            latest_tok = (
                balances.filter(
                    (F.col("token") == address) & (F.col("block_number") <= at_block)
                )
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select("address", F.col("balance").alias("__b"))
            )
            init_bal = (
                self.subscriptions.filter(F.col("block_number") > 0)
                .select("address", "group")
                .join(latest_tok, "address", "left")
                .select(
                    F.lit(address).alias("token"),
                    F.lit(at_block).cast("long").alias("block_number"),
                    "address",
                    F.coalesce(F.col("__b"), F.lit("0")).alias("balance"),
                    "group",
                )
                .localCheckpoint()
            )
            # the overwrite unit is the whole block, so other tokens' rows
            # already stored at it are written back beside the new token's
            tables["balances"] = init_bal.unionByName(
                self.store.read_range("balances", at_block, at_block).filter(
                    F.col("token") != address
                )
            )
            tables["total_balances"] = backfill
            if self.store.exists("total_balances"):
                tables["total_balances"] = backfill.unionByName(
                    self.store.read_range("total_balances", at_block, at_block).filter(
                        F.col("token") != address
                    )
                )
            # the new token's rows are by definition its latest state
            for dim, rows in (("latest_balances", init_bal), ("latest_totals", backfill)):
                if self.store.exists(dim):
                    dims[dim] = (
                        self.store.read(dim).filter(F.col("token") != address).unionByName(rows)
                    )
        self.store.write_blocks(tables, block_range=(at_block, at_block), dimensions=dims)
        self.erc20 = self.store.read("erc20")

    # -- decision application ---------------------------------------------------

    def _apply(self, d: ReorgDecision, _gap_retry: bool = False) -> None:
        if d.action.startswith("ignore"):
            return
        if d.action == "gap":
            # The backfilled headers are NOT trusted blindly: the combined
            # run (backfill + fresh) goes back through check_reorg, because
            # a reorg below the stored head can happen exactly while a gap
            # forms — the reference routes every synced block through
            # addBlockMaybeReorg (indexer.go:218-246,331-440). On a clean
            # extension this resolves to "append"; on a fork it retracts.
            if _gap_retry:
                raise RuntimeError(
                    "gap backfill did not close the gap — source is missing "
                    f"headers in {d.gap}"
                )
            backfill = self.source.headers_range(*d.gap)
            combined = backfill + d.replay
            d2 = check_reorg(
                self._stored_recent(), combined, self.source.header_by_hash, self._td_at
            )
            self._apply(d2, _gap_retry=True)
            return
        # a winning fork's first chunk carries the retraction: one commit
        # swaps the losing branch for the winning one
        fork = d if d.action == "reorg" else None
        chunks = [
            d.replay[i : i + MAX_BLOCKS_PER_BATCH]
            for i in range(0, len(d.replay), MAX_BLOCKS_PER_BATCH)
        ]
        if fork is not None and not chunks:
            chunks = [[]]  # a fork with no replay still retracts
        for chunk in chunks:
            self._ingest(chunk, fork)
            fork = None

    # -- subscription lifecycle (store/subscription/subscription.go:50,96-102;
    # store/transfer_processor.go:258-313) -------------------------------------

    def _init_new_subscriptions(
        self,
        new: pd.DataFrame,
        batch_deltas: DataFrame,
        first_n: int,
        last_n: int,
        exact: bool,
    ) -> DataFrame:
        """Opening balance rows of the NEW subscriptions ``new``
        (block_number == 0) at the batch head, which the caller folds into
        snapshots and group totals and stamps the subscriptions with — the
        reference's per-block `insertNewSubscriptions`
        (transfer_processor.go:258-313) at batch granularity.

        Opening balance: by default (``balancer=None``) derived from the
        engine's own ledger — stored transfer/fee history plus this batch's
        deltas, summed on the chunk's arithmetic path ``exact`` (an
        O(stored history) scan). A plugged-in balancer seam reads chain
        truth over RPC at the batch-head block instead
        (client/balancer.go:43-116): each request row carries
        ``block_number`` so the lookup has the reference's at-block
        semantics, and the fan-out is O(new subs × tokens).

        Guard, evaluated inside the checkpointed plan: a new subscription
        must have NO stored balance rows below the replay point
        (ErrHasPrevBalance, transfer_processor.go:295-301) — its address was
        never tracked, so rows imply a corrupted lifecycle. Rows at or above
        ``first_n`` belong to the branch this batch's commit overwrites (a
        reset subscription's retracted openings)."""
        addrs = [str(a) for a in new["address"]]
        groups = {str(a): int(g) for a, g in zip(new["address"], new["group"])}
        tokens = [ETH_TOKEN] + [
            r["address"] for r in self.erc20.select("address").distinct().collect()
        ]
        # pandas, not lists: a list ships as a PythonRDD and starts workers
        addr_df = self.spark.createDataFrame(pd.DataFrame({"address": addrs}), "address string")
        reqs = self.spark.createDataFrame(
            pd.DataFrame(
                [(t, a, last_n) for t in tokens for a in addrs],
                columns=["token", "address", "block_number"],
            ),
            "token string, address string, block_number long",
        )
        if self.balancer is not None:
            from eth_indexer_spark.sources.chain import fetch_balances

            opening = fetch_balances(reqs, self.balancer)
        else:
            # ledger-derived: Σ stored deltas below the replay point (rows
            # above it are overwritten by this commit) + Σ batch deltas
            parts = batch_deltas.select("token", "address", "delta")
            below = first_n - 1
            if self.store.exists("transfers"):
                stored_fees = (
                    X.tx_fees(
                        self.store.read_range("transactions", None, below),
                        self.store.read_range("transaction_receipts", None, below),
                    )
                    if self.store.exists("transactions")
                    else None
                )
                stored_d = X.ledger_deltas(
                    self.store.read_range("transfers", None, below), stored_fees, exact=exact
                ).select("token", "address", "delta")
                parts = parts.unionByName(stored_d)
            parts = parts.join(F.broadcast(addr_df), "address", "left_semi")
            summed = X._u256_sum(parts, ["token", "address"], "delta", "balance", exact)
            opening = (
                reqs.join(summed, ["token", "address"], "left")
                .withColumn("balance", F.coalesce(F.col("balance"), F.lit("0")))
            )

        balance = F.col("balance")
        if self.store.exists("balances"):
            prev = (
                self.store.read_range("balances", None, first_n - 1)
                .join(F.broadcast(addr_df), "address", "left_semi")
                .select("address", F.lit(True).alias("__prev"))
                .distinct()
            )
            opening = opening.join(prev, "address", "left")
            balance = F.when(
                F.col("__prev").isNotNull(),
                F.raise_error(
                    F.lit(
                        "has-prev-balance: a NEW subscription (block_number=0) "
                        "already has stored balance rows (reference "
                        "ErrHasPrevBalance, store/transfer_processor.go:295-301)"
                    )
                ),
            ).otherwise(balance)
        group_map = F.create_map(
            *[F.lit(x) for kv in groups.items() for x in kv]
        )
        return opening.select(
            "token",
            F.lit(last_n).cast("long").alias("block_number"),
            "address",
            balance.alias("balance"),
            group_map[F.col("address")].cast("long").alias("group"),
        ).localCheckpoint()

    # -- latest-state dimensions (O(batch) seeding, not O(table)) --------------

    def _latest_state(self, dim_table: str, source_table: str, keys: list[str], first_n: int):
        """Seed frame for the carry-forward aggregates: one row per key with
        the latest value strictly before ``first_n``.

        The dimension publishes in the same commit as the batch it reflects,
        so it is never behind the stored head. Steady state reads it —
        O(#keys), independent of chain length; its newest block comes from a
        driver-side read of its ``block_number`` column (no Spark job). A
        dimension holding rows at or after ``first_n`` (a winning fork, or a
        resent batch below the head) reflects state this batch overwrites:
        the seed is rebuilt from the source table as-of ``first_n - 1``
        (O(table), pinned with ``localCheckpoint``), as it is before the
        first batch writes the dimension."""
        if self.store.exists(dim_table):
            dim_max = self.store.lookup(dim_table, columns=["block_number"])["block_number"].max()
            if not pd.isna(dim_max) and dim_max <= first_n - 1:
                return self.store.read(dim_table)
        if not self.store.exists(source_table):
            return None
        w = W.partitionBy(*keys).orderBy(F.desc("block_number"))
        return (
            self.store.read_range(source_table, None, first_n - 1)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .localCheckpoint()
        )

    def _merged_latest_dim(self, keys: list[str], seed, batch_df) -> DataFrame:
        """Fold a batch's output into the latest-state dimension: batch keys
        take their newest row, untouched keys keep the seed's row. ``seed``
        is the frame `_latest_state` returned — consistent as-of the batch
        start, so the merge is O(#keys + batch)."""
        w = W.partitionBy(*keys).orderBy(F.desc("block_number"))
        batch_latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if seed is not None:
            return seed.join(
                batch_latest.select(*keys).distinct(), keys, "left_anti"
            ).unionByName(batch_latest)
        return batch_latest

    # -- the distributed pipeline for one chunk ---------------------------------

    def _ledger(self, events, fees, subs, new, seed_bal, seed_tot, first_n, last_n):
        """Balance snapshots and group totals of one chunk, each pinned.
        The fast path and the subscription guards fail the checkpoint job
        with a named ``raise_error`` instead of running probe jobs first
        (:func:`_fast_then_exact`)."""
        old_subs = subs.filter(F.col("block_number") > 0)

        def run(exact: bool):
            # deltas feed the openings, the snapshots and the rollup
            deltas = X.ledger_deltas(events, fees, exact=exact).localCheckpoint()
            init_rows = (
                self._init_new_subscriptions(new, deltas, first_n, last_n, exact)
                if len(new)
                else None
            )
            # old subs must already be tracked (missing-prev guard); a new
            # sub's opening balance already prices in this batch
            snapshots = X.balance_snapshots(
                deltas, old_subs, seed_bal, exact=exact, require_seed=True
            )
            subs_g = F.broadcast(old_subs.select("address", "group"))
            snap_deltas = deltas.join(subs_g, "address")
            if init_rows is not None:
                snapshots = snapshots.unionByName(init_rows)
                # a new member's opening wealth enters its group's total at
                # the stamp block (the reference's balance-diff-from-nothing)
                snap_deltas = snap_deltas.unionByName(
                    init_rows.filter(F.col("balance") != "0").select(
                        "token",
                        "block_number",
                        "address",
                        F.col("balance").alias("delta"),
                        "group",
                    )
                )
            prev_totals = (
                seed_tot.select("token", "group", "balance") if seed_tot is not None else None
            )
            totals = X.total_balance_rollup(
                snap_deltas, fees, events, subs, prev_totals, exact=exact
            )
            return snapshots.localCheckpoint(), totals.localCheckpoint()

        return _fast_then_exact(run)

    def _ingest(self, branch: list[dict], fork: ReorgDecision | None = None) -> None:
        """Ingest one chunk of at most ``MAX_BLOCKS_PER_BATCH`` headers in
        ONE store commit. ``fork``: a winning fork whose retraction, reorg
        audit row and subscription reset ride in this commit (its first
        chunk; an empty chunk publishes just those)."""
        subs_rows = self._subscription_rows()
        changed = False
        dims: dict[str, DataFrame] = {}
        appends: dict[str, DataFrame] = {}
        through = None
        if fork is not None:
            through = fork.retract_to
            row = dict(fork.reorg_row, created_at=datetime.now(timezone.utc).replace(tzinfo=None))
            # pandas, not a list: a list ships as a PythonRDD and starts workers
            appends["reorgs"] = self.spark.createDataFrame(
                pd.DataFrame([row], columns=REORGS.names), REORGS
            )
            # subscriptions stamped on the retracted range go back to "new",
            # so this chunk re-initializes them on the winning branch; their
            # opening rows go with the retraction
            # (store/subscription/subscription.go:62-63,131-146)
            reset = subs_rows["block_number"].between(fork.retract_from, fork.retract_to)
            if reset.any():
                subs_rows = subs_rows.assign(block_number=subs_rows["block_number"].mask(reset, 0))
                changed = True
        schema = self.subscriptions.schema
        subs = self.spark.createDataFrame(subs_rows, schema) if changed else self.subscriptions
        if branch:
            block_range = (int(branch[0]["number"]), int(branch[-1]["number"]))
            new = subs_rows["block_number"] == 0
            tables, latest = self._chunk_tables(branch, subs, subs_rows[new])
            dims.update(latest)
            if new.any():
                subs_rows = subs_rows.assign(
                    block_number=subs_rows["block_number"].mask(new, block_range[1])
                )
                changed = True
        else:
            block_range = (fork.retract_from, fork.retract_to)
            tables = {}
        if changed:
            subs = self.spark.createDataFrame(subs_rows, schema)
            dims["subscriptions"] = subs
        # CRASH PROTOCOL: the chunk's eight tables, the latest-state
        # dimensions and, on a winning fork, the retraction of the losing
        # branch, the reorgs row and the subscription stamps all publish in
        # ONE commit (their files stage concurrently, but none is visible
        # until the single log entry lands), so a crash leaves the whole
        # chunk or none of it. block_headers is the boundary marker: it
        # moves the stored head, which decides whether a resent batch is a
        # duplicate. A crash before the commit leaves the old head and the
        # old branch; the resend takes the same path again (append, or the
        # same fork) and commits afresh, and the crashed attempt's staged
        # files are orphans vacuum deletes.
        self.store.write_blocks(
            tables,
            block_range=block_range,
            through=through,
            dimensions=dims,
            appends=appends,
        )
        if changed:
            self._subs, self._subs_rows = subs, subs_rows

    def _chunk_tables(self, branch, subs, new) -> tuple[dict, dict]:
        """The chunk's eight block-keyed tables and its two latest-state
        dimensions. ``subs``: the subscriptions as of the chunk start (a
        fork's reset applied); ``new``: their rows still to initialize."""
        first_n = int(branch[0]["number"])
        last_n = int(branch[-1]["number"])
        raw = self.source.raw_tables_for([h["hash"] for h in branch])
        txs, receipts, logs = (
            raw["transactions"],
            raw["transaction_receipts"],
            raw["receipt_logs"],
        )
        # headers, events and fees each feed several actions (the deltas
        # checkpoint, the totals rollup, the table writes) — materialize
        # each once (micro-batch sized) so the reward join and the ABI
        # decode are not recomputed per consumer
        headers = X.compute_header_rewards(
            raw["block_headers_raw"], txs, receipts
        ).localCheckpoint()

        # ether events: the node's state-diff transfer logs are authoritative
        # (they see ether moved INSIDE contract execution, indexer.go:443-467);
        # only a source without debug_getTransferLogs support falls back to
        # tx.value, which misses internal transfers
        if "transfer_logs" in raw:
            eth_events = X.eth_transfer_events(raw["transfer_logs"])
        else:
            eth_events = X.extract_eth_transfers(txs)
        events = (
            eth_events
            .unionByName(X.extract_erc20_transfers(logs, self.erc20))
            .unionByName(X.reward_events(headers))
        ).localCheckpoint()
        fees = X.tx_fees(txs, receipts).localCheckpoint()

        seed_bal = self._latest_state(
            "latest_balances", "balances", ["token", "address"], first_n
        )
        seed_tot = self._latest_state(
            "latest_totals", "total_balances", ["token", "group"], first_n
        )
        snapshots, totals = self._ledger(
            events, fees, subs, new, seed_bal, seed_tot, first_n, last_n
        )
        latest = {
            "latest_balances": self._merged_latest_dim(
                ["token", "address"], seed_bal, snapshots
            ),
            "latest_totals": self._merged_latest_dim(["token", "group"], seed_tot, totals),
        }
        return {
            "transactions": txs,
            "transaction_receipts": receipts,
            "receipt_logs": logs,
            "transfers": events,
            "balances": snapshots,
            "total_balances": totals,
            "total_difficulty": X.total_difficulty(
                self.spark, branch, self._td_at(first_n - 1)
            ),
            "block_headers": headers.select(*_HEADER_COLS),
        }, latest


def start_stream(
    spark: SparkSession,
    ingestor: BlockIngestor,
    headers_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """File-source Structured Streaming wrapper: each parquet file landing in
    ``headers_dir`` is a batch of raw block headers (the WS subscription
    channel stand-in, client/subscriber.go:28-31). ``foreachBatch`` routes
    into the ingestor; `availableNow` drains-and-stops for tests, continuous
    deployments drop it and set a processingTime trigger."""
    stream = (
        spark.readStream.schema(RAW_SCHEMAS["block_headers_raw"])
        .option("maxFilesPerTrigger", 1)
        .parquet(headers_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(
            lambda df, bid: ingestor.process_batch(df, bid) and None
        )
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
