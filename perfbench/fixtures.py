"""Benchmark inputs, memoized on disk by (workload, seed, size).

Rows come from the library's generator: ``datagen.generate_tokens`` maps
``datagen._gen_chunk`` over chunk ids, each chunk seeded by (seed,
chunk id). Calling that chunk function here, chunk by chunk, writes the
same rows as ``generate_tokens(spark, rows, seed=seed, n_parts=32)``
without starting a JVM, so a run whose fixture was just generated starts
Spark exactly like one that found it cached. Each chunk becomes one
parquet file.

A fixture directory is complete once its ``_SUCCESS`` marker exists; a
directory without one is a crashed generation and is rebuilt.
"""

from __future__ import annotations

import json
import os
import shutil
import time

N_PARTS = 32
MAX_LEN = 512
#: drift of the suite's baseline histogram: the hot source's lengths
#: are shifted by this much on the log scale
BASELINE_DRIFT = 0.5


def fixture_dir(work: str, workload: str, seed: int, size: dict) -> str:
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    return os.path.join(work, "fixtures", f"{workload}-s{seed}-{tag}")


def read_meta(path: str) -> dict | None:
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        return None
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


def _chunks(rows: int, seed: int, drift_source: str | None = None,
            drift_shift: float = 1.0):
    """The generator's chunks, as ``generate_tokens`` would produce them."""
    from autoprepad_spark.datagen import CHUNK_ROWS, _gen_chunk

    for cid in range((rows + CHUNK_ROWS - 1) // CHUNK_ROWS):
        yield _gen_chunk(cid, rows, seed, N_PARTS, MAX_LEN, True,
                         drift_source, drift_shift)


def _write_tables(rows: int, seed: int, out: str) -> list[int]:
    """One parquet file per chunk, ``f0000.parquet`` upwards, in the
    declared token schema; returns the token count of each file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.field("element", pa.int32(), nullable=False))),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
        ("part", pa.string()),
    ])
    os.makedirs(out)
    tokens = []
    for k, chunk in enumerate(_chunks(rows, seed)):
        table = pa.Table.from_pandas(chunk, schema=schema, preserve_index=False)
        pq.write_table(table, f"{out}/f{k:04d}.parquet")
        tokens.append(int(sum(len(t) for t in chunk["tokens"])))
    return tokens


def generate(workload: str, seed: int, size: dict, path: str) -> dict:
    """Write the fixture for ``workload`` to ``path``; returns its meta."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from autoprepad_spark.datagen import CHUNK_ROWS, SOURCES
    from autoprepad_spark.operators.drift import DEFAULT_BUCKET_WIDTH

    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    if workload == "suite_batch":
        rows = size["rows"]
        file_tokens = _write_tables(rows, seed, f"{tmp}/tokens")
        pq.write_table(pa.table({"source": SOURCES, "active": [True] * len(SOURCES)}),
                       f"{tmp}/dim.parquet")
        # the drift baseline: ntok_histogram's (source, bucket, cnt) of a
        # generation whose hot source is length-shifted
        drifted = pd.concat(_chunks(size["baseline_rows"], seed + 1,
                                    SOURCES[0], BASELINE_DRIFT))
        drifted = drifted.dropna(subset=["n_tok", "source"])
        hist = (drifted.assign(bucket=(drifted["n_tok"] // DEFAULT_BUCKET_WIDTH)
                               .astype("int32"))
                .groupby(["source", "bucket"]).size().rename("cnt").reset_index())
        pq.write_table(pa.Table.from_pandas(hist.astype({"cnt": "int64"}),
                                            preserve_index=False),
                       f"{tmp}/baseline_hist.parquet")
    elif workload == "stream_ingest":
        rows = size["files"] * CHUNK_ROWS
        file_tokens = _write_tables(rows, seed, f"{tmp}/backlog")
        # the file source orders a backlog by modification time: distinct
        # mtimes make micro-batch k read file k
        base = time.time() - 10 * len(file_tokens)
        for k in range(len(file_tokens)):
            os.utime(f"{tmp}/backlog/f{k:04d}.parquet", (base + k, base + k))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    meta = {"rows": rows, "tokens": sum(file_tokens), "file_tokens": file_tokens,
            "gen_s": time.perf_counter() - t0, "size": size}
    with open(f"{tmp}/meta.json", "w") as f:
        json.dump(meta, f)
    os.rename(tmp, path)
    open(os.path.join(path, "_SUCCESS"), "w").close()
    return meta
