"""Block source seam (SURVEY §2.1 S2/S3): per-block fetch of headers,
transactions, receipts, and logs, keyed by block HASH so that fork branches
with colliding numbers stay distinct — the reference's
``BlockByHash`` / ``debug_getBlockReceipts(hash)`` RPCs
(client/client.go:44-49,106-110,150-154).

The production implementation would wrap an archive-node RPC client (with the
reference's LRU caching, client/cache.go). Tests use
:class:`PandasBlockSource`, an in-memory chain — including fork branches —
backed by the fixture raw tables. The seam's contract is what matters: the
ingestor only ever asks for (a) one header by hash (reorg walk), (b) a header
range by number on the canonical branch (gap backfill), (c) the four raw
tables for an explicit set of block hashes (micro-batch ingest).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from eth_indexer_spark.schema import RAW_SCHEMAS


def _all_na_as(col: pd.Series, dtype) -> pd.Series:
    """An all-NA column cast to ``dtype``. A NaN cannot cast to a numpy
    integer dtype, so an integer side gets the NULLABLE ``Int64`` instead:
    concat with int64 yields Int64 (exact ints + <NA>), where float64 would
    round values beyond 2^53 and object would break numeric ops."""
    if dtype.kind in "iu":
        return pd.Series(pd.NA, index=col.index, dtype="Int64")
    return col.astype(dtype)


class PandasBlockSource:
    """In-memory chain: raw fixture tables, possibly containing multiple
    branches. ``canonical`` numbers resolve via first-wins unless a branch
    re-registers them (tests push fork branches with ``extend``)."""

    def __init__(
        self,
        spark: SparkSession,
        headers_raw: pd.DataFrame,
        transactions: pd.DataFrame,
        receipts: pd.DataFrame,
        logs: pd.DataFrame,
        transfer_logs: pd.DataFrame | None = None,
        schemas: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.schemas = schemas or RAW_SCHEMAS
        self.headers = headers_raw.reset_index(drop=True)
        self.transactions = transactions.reset_index(drop=True)
        self.receipts = receipts.reset_index(drop=True)
        self.logs = logs.reset_index(drop=True)
        # None = the node has no state-diff support (no debug_getTransferLogs);
        # the ingestor then falls back to tx.value-derived ether events
        self.transfer_logs = (
            None if transfer_logs is None else transfer_logs.reset_index(drop=True)
        )

    @staticmethod
    def _concat(base: pd.DataFrame, extra: pd.DataFrame) -> pd.DataFrame:
        """Concat that pins an all-NA column on EITHER side (e.g. a branch
        with no second uncles: all-None ``object`` beside another side's
        ``float64``) to the other side's dtype — pandas otherwise warns
        that all-NA entries will stop being excluded when it works out the
        result dtypes, which would change the column's dtype."""
        pins: tuple[dict, dict] = ({}, {})
        for c in base.columns.intersection(extra.columns):
            a, b = base[c], extra[c]
            if a.isna().all() and not b.isna().all():
                pins[0][c] = _all_na_as(a, b.dtype)
            elif b.isna().all() and not a.isna().all():
                pins[1][c] = _all_na_as(b, a.dtype)
        return pd.concat(
            [base.assign(**pins[0]), extra.assign(**pins[1])], ignore_index=True
        )

    def extend(
        self, headers=None, transactions=None, receipts=None, logs=None,
        transfer_logs=None,
    ) -> None:
        """Register additional blocks (e.g. a fork branch)."""
        if headers is not None and len(headers):
            self.headers = self._concat(self.headers, headers)
        if transactions is not None and len(transactions):
            self.transactions = self._concat(self.transactions, transactions)
        if receipts is not None and len(receipts):
            self.receipts = self._concat(self.receipts, receipts)
        if logs is not None and len(logs):
            self.logs = self._concat(self.logs, logs)
        if transfer_logs is not None and len(transfer_logs):
            if self.transfer_logs is None:
                self.transfer_logs = transfer_logs.reset_index(drop=True)
            else:
                self.transfer_logs = self._concat(self.transfer_logs, transfer_logs)

    # -- point / range header lookups (driver-side, O(1)-ish rows) ----------

    def header_by_hash(self, h: str) -> dict | None:
        m = self.headers[self.headers["hash"] == h]
        return None if m.empty else m.iloc[-1].to_dict()

    def headers_range(self, lo: int, hi: int) -> list[dict]:
        """Canonical-branch headers with lo ≤ number ≤ hi, ascending; when a
        number has several registered headers, the latest registration wins
        (the source models "what the node reports now")."""
        m = self.headers[(self.headers["number"] >= lo) & (self.headers["number"] <= hi)]
        latest = m.groupby("number", as_index=False).last()
        return [r.to_dict() for _, r in latest.sort_values("number").iterrows()]

    # -- batch raw-table fetch (the distributed input of one micro-batch) ----

    def raw_tables_for(self, block_hashes: list[str]) -> dict[str, DataFrame]:
        hs = set(block_hashes)
        hdr = self.headers[self.headers["hash"].isin(hs)]
        hdr = hdr.groupby("hash", as_index=False).last()
        txs = self.transactions[self.transactions["block_hash"].isin(hs)]
        tx_hashes = set(txs["hash"])
        rec = self.receipts[self.receipts["tx_hash"].isin(tx_hashes)]
        lgs = self.logs[self.logs["tx_hash"].isin(tx_hashes)]

        def _df(pdf: pd.DataFrame, schema_key: str) -> DataFrame:
            return self.spark.createDataFrame(pdf, schema=self.schemas[schema_key])

        out = {
            "block_headers_raw": _df(hdr, "block_headers_raw"),
            "transactions": _df(txs, "transactions"),
            "transaction_receipts": _df(rec, "transaction_receipts"),
            "receipt_logs": _df(lgs, "receipt_logs"),
        }
        if self.transfer_logs is not None:
            # state diffs are keyed by tx hash; tx hashes are branch-unique,
            # so the same filter that fences receipts/logs fences these
            tl = self.transfer_logs[self.transfer_logs["tx_hash"].isin(tx_hashes)]
            out["transfer_logs"] = _df(tl, "transfer_logs")
        return out
