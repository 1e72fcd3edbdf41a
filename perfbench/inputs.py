"""Helpers for the benchmark's input tables.

The inputs are the project's synthetic test corpus (TESTDATA.md), copied
byte for byte into `perfbench/data/` so the benchmark runs from its own
checkout: sf0.1 for `serial_sf01`, sf0.001 for the self-checks.
`graft.tools.ScaleData` scales sf0.1 up to sf1 once per checkout.
`flatten` gives the scaled tables the corpus's one-file-per-table layout,
and `describe` records rows and a content checksum, so two machines can
confirm identical inputs.

    python3 perfbench/inputs.py <table dir>   # print rows and checksum
"""
import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def flatten(dir_):
    """Rewrite every Spark-written table directory under `dir_` as one
    parquet file of the same name (row order kept), the one-file-per-table
    layout DuckDB's oracle views read. Row groups stay small enough for
    Spark to split a table across all cores."""
    import pyarrow.dataset as ds
    for t in TABLES:
        path = os.path.join(dir_, f"{t}.parquet")
        if not os.path.isdir(path):
            continue
        parts = sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))
        table = ds.dataset(parts, format="parquet").to_table()
        pq.write_table(table, path + ".tmp", row_group_size=250_000, compression="snappy")
        for f in os.listdir(path):
            os.remove(os.path.join(path, f))
        os.rmdir(path)
        os.replace(path + ".tmp", path)


def describe(dir_):
    """Row count per table plus one content checksum over all of them.
    The checksum sums a hash of every row, so it does not depend on row
    order or on how a writer split a table into files."""
    import pandas as pd
    h = hashlib.sha256()
    rows = {}
    for t in TABLES:
        path = os.path.join(dir_, f"{t}.parquet")
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))
        total, n = np.uint64(0), 0
        for f in files:
            df = pq.read_table(f).to_pandas()
            for c in df.columns:
                if df[c].dtype == object and len(df) and not isinstance(df[c].iloc[0], str):
                    df[c] = df[c].map(lambda v: np.asarray(v).tobytes())
            with np.errstate(over="ignore"):
                total += pd.util.hash_pandas_object(df, index=False).to_numpy().sum(dtype=np.uint64)
            n += len(df)
        rows[t] = n
        h.update(f"{t}:{n}:{int(total)};".encode())
    return {"rows": rows, "checksum": h.hexdigest()}


if __name__ == "__main__":
    import sys
    print(describe(sys.argv[1]))
