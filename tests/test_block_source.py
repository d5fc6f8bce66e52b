"""``PandasBlockSource`` frame registration without Spark: registering a
fork branch must not depend on pandas' deprecated all-NA dtype inference,
and every registered column must still convert to its ``RAW_SCHEMAS`` type
through Arrow (the path ``raw_tables_for`` hands a batch to Spark on)."""

from __future__ import annotations

import os
import sys
import warnings

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from eth_indexer_spark.schema import RAW_SCHEMAS
from eth_indexer_spark.sources.blocks import PandasBlockSource

# chaingen lives with the benchmark; appended, so it shadows no module
sys.path.append(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"))
import chaingen as cg  # noqa: E402

_ARROW = {
    "string": pa.string(),
    "long": pa.int64(),
    "int": pa.int32(),
    "binary": pa.binary(),
    "timestamp": pa.timestamp("us"),
}
_SOURCE_TABLES = {
    "headers": "block_headers_raw",
    "transactions": "transactions",
    "receipts": "transaction_receipts",
    "logs": "receipt_logs",
}


def _arrow_fields(ddl: str) -> dict[str, pa.DataType]:
    fields = (f.strip().rsplit(" ", 1) for f in ddl.split(","))
    return {name.strip("`"): _ARROW[typ] for name, typ in fields}


def test_fork_registration_pins_all_na_columns_on_either_side(monkeypatch):
    """Seed 5 with five transactions a block, two 30-block history batches
    and a 55-deep fork with a 60-block branch: the history's
    ``uncle2_number`` is all-None ``object`` and the branch's is
    ``float64`` (it has a two-uncle block) — the BASE side is the all-NA
    one, which pandas warns about unless it is pinned too."""
    monkeypatch.setattr(cg, "TXS_PER_BLOCK", 5)
    chain = cg.Chain(cg.World(5))
    rng = np.random.default_rng(5)
    for _ in range(2):
        chain.extend(rng, 30)
    f = chain.frames()
    source = PandasBlockSource(None, f["headers"], f["transactions"], f["receipts"], f["logs"])
    assert source.headers["uncle2_number"].isna().all()
    monkeypatch.setattr(cg, "BATCH_BLOCKS", 60)
    chain.fork(rng, 55)
    f = chain.frames(set(chain.blocks) - set(source.headers["hash"]))
    assert not f["headers"]["uncle2_number"].isna().all()
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        source.extend(f["headers"], f["transactions"], f["receipts"], f["logs"])

    for attr, key in _SOURCE_TABLES.items():
        pdf = getattr(source, attr)
        for name, typ in _arrow_fields(RAW_SCHEMAS[key]).items():
            if name in pdf.columns:
                pa.Array.from_pandas(pdf[name], type=typ, safe=True)
    fork_rows = source.headers["hash"].isin(f["headers"]["hash"])
    assert source.headers.loc[fork_rows, "uncle2_number"].notna().any()


@pytest.mark.parametrize("swap", [False, True], ids=["all-na-extra", "all-na-base"])
def test_concat_all_na_side_takes_the_other_sides_dtype(swap):
    full = pd.DataFrame({"n": [1, 2], "f": [1.5, None], "s": ["a", "b"]})
    empty = pd.DataFrame({"n": [None], "f": [None], "s": [None]})
    base, extra = (empty, full) if swap else (full, empty)
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        out = PandasBlockSource._concat(base, extra)
    # a NaN cannot be an int64: the integer column goes nullable, exact
    assert str(out["n"].dtype) == "Int64"
    assert out["n"].dropna().tolist() == [1, 2]
    assert out["f"].dtype == np.float64
    assert out["s"].dtype == object
    assert len(out) == 3
