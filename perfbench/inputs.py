"""Seeded inputs and oracle answers for the benchmark, cached on disk.

Clips come from ``kneaddata_spark.synth``: clip ``i`` is a pure function of
``i`` (a per-row Philox stream), so a seed only chooses WHERE in that stream
a workload's input starts. The clip ids ``[0, POOL_CHUNKS * CHUNK)`` are
generated once per checkout, in parallel, into parquet files of ``CHUNK``
clips, together with the ``kneaddata_spark.oracle`` labels of every clip
(about 13 ms per clip in one process, so neither generation nor labelling is
ever timed). Seed ``s`` selects the clips from id ``(s % WINDOWS) *
STRIDE`` on until their payloads reach ``QC_BYTES``: the input size is
fixed in bytes, because the engine's wall follows the bytes it moves and
the clips' sizes vary widely. The same seed always gives the same input.

A window is written as ``FILES`` parquet files of about 15 MB with equal
bytes and equal FLAC bytes (FLAC decoding is most of the kernel time). Each
file is then one task of the engine's 32 MB scan split, and the tasks are
of equal work, so the wall does not hang on which file happens to hold the
most FLAC.

The document queries read the two tables under ``perfbench/data`` (the
sf0.01 ``documents`` and ``events`` tables). Their DuckDB oracle answers are
computed once per checkout from the oracle SQL the engine ships.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil

from .metrics import DOC_QUERIES

CHUNK = 250          # clips per generated pool file
POOL_CHUNKS = 28     # clips [0, 7000)
STRIDE = 500         # seed windows start 500 clips apart
WINDOWS = 10
QC_BYTES = 120 << 20  # qc_batch input: about 1,700 clips
FILES = 8            # files per window: two waves of tasks on 4 cores

DOC_TABLES = ("documents", "events")


def data_dir(root: str) -> str:
    return os.path.join(root, "perfbench", "data")


def cache_dir(root: str, work: str) -> str:
    """Cache directory keyed by the engine sources that decide the inputs,
    the labels and the oracle answers, and by this module's layout."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "kneaddata_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for f in sorted(filenames):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.abspath(__file__), "rb") as fh:
        h.update(fh.read())
    return os.path.join(work, "cache", h.hexdigest()[:16])


def is_ready(cache: str) -> bool:
    return os.path.exists(os.path.join(cache, "manifest.json"))


def chunk_path(cache: str, c: int) -> str:
    return os.path.join(cache, "clips", f"chunk-{c:04d}.parquet")


def labels_path(cache: str, c: int) -> str:
    return os.path.join(cache, "labels", f"chunk-{c:04d}.parquet")


def window(cache: str, seed: int) -> tuple[str, "pd.DataFrame"]:
    """The seed's input directory and oracle labels, built on first use:
    the clips from id ``(seed % WINDOWS) * STRIDE`` on until their payloads
    reach ``QC_BYTES``, dealt into ``FILES`` files of equal work."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    first = (seed % WINDOWS) * STRIDE
    dest = os.path.join(cache, "windows", f"w{first:06d}")
    labels = dest + ".labels.parquet"
    if not os.path.exists(labels):
        c0 = first // CHUNK
        clips = pa.concat_tables([pq.read_table(chunk_path(cache, c)) for c in range(c0, POOL_CHUNKS)])
        clips = clips.slice(first - c0 * CHUNK)
        size = pc.binary_length(clips["bytes"]).to_numpy()
        n = int((size.cumsum() < QC_BYTES).sum()) + 1
        if n > len(size):
            raise RuntimeError(f"pool too small for the window at clip {first}")
        clips, size = clips.slice(0, n), size[:n]
        codec = clips["codec"].to_numpy(zero_copy_only=False)
        part = _deal(size, codec == "flac")
        shutil.rmtree(dest, ignore_errors=True)
        os.makedirs(dest)
        for f in range(FILES):
            pq.write_table(clips.filter(pa.array(part == f)), os.path.join(dest, f"part-{f}.parquet"))
        ids = set(clips["clip_id"].to_pylist())
        lab = pd.concat([pd.read_parquet(labels_path(cache, c)) for c in range(c0, POOL_CHUNKS)])
        lab[lab["clip_id"].isin(ids)].to_parquet(labels + ".tmp", index=False)
        os.replace(labels + ".tmp", labels)
    return dest, pd.read_parquet(labels)


def _deal(size, heavy):
    """Greedy largest-first assignment of clips to FILES files: the heavy
    (FLAC-decoding) clips are balanced by their own bytes first, then every
    other clip goes to the file with the fewest bytes so far."""
    import numpy as np

    part = np.empty(len(size), dtype=np.int64)
    heavy_bytes, total = np.zeros(FILES), np.zeros(FILES)
    for mask, load in ((heavy, heavy_bytes), (~heavy, total)):
        for i in np.flatnonzero(mask)[np.argsort(-size[mask], kind="stable")]:
            f = int(np.argmin(load))
            part[i] = f
            heavy_bytes[f] += size[i] * heavy[i]
            total[f] += size[i]
    return part


def oracle_answers(cache: str) -> dict:
    with open(os.path.join(cache, "oracles.json")) as fh:
        return json.load(fh)


# --------------------------------------------------------------- build ----


@functools.cache
def _models():
    from kneaddata_spark.models import train_langid, train_perplexity

    return train_langid(), train_perplexity()


def _write_chunk(cache: str, c: int) -> int:
    """Generate and label chunk ``c`` (runs inside a Spark Python worker)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kneaddata_spark import oracle, synth

    pdf = synth.gen_clips_pdf(CHUNK, start=c * CHUNK)
    lab = oracle.label_frame(pdf, *_models())
    lab = lab[["clip_id", "expect_drop_rule", "expect_transcript_scrubbed"]]
    lab.insert(1, "codec", pdf["codec"].to_numpy())
    for path, frame in ((chunk_path(cache, c), pdf), (labels_path(cache, c), lab)):
        tmp = path + ".tmp"
        pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), tmp)
        os.replace(tmp, path)
    return len(pdf)


def check_oracles(root: str):
    """The engine's own oracle checker (``tools/check_oracles.py``), whose
    ``frame_hash`` both sides of the document-query check use."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(root, "tools", "check_oracles.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _oracle_hashes(root: str) -> dict:
    import duckdb

    frame_hash = check_oracles(root).frame_hash
    from kneaddata_spark.plans.entry_queries import ORACLES

    con = duckdb.connect()
    try:
        for t in DOC_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir(root)}/{t}.parquet'")
        out = {}
        for name in DOC_QUERIES:
            rel = con.sql(ORACLES[name])
            cols, rows = list(rel.columns), rel.fetchall()
            out[name] = {"rows": len(rows), "cols": sorted(cols), "hash": frame_hash(cols, rows)}
        return out
    finally:
        con.close()


def build(spark, root: str, cache: str) -> None:
    """Generate every pool chunk in parallel (one Spark task per chunk) and
    the document-query oracle answers, then write the manifest last."""
    import pandas as pd

    os.makedirs(cache, exist_ok=True)
    for old in os.listdir(os.path.dirname(cache)):  # caches of other sources
        if old != os.path.basename(cache):
            shutil.rmtree(os.path.join(os.path.dirname(cache), old), ignore_errors=True)
    for sub in ("clips", "labels"):
        os.makedirs(os.path.join(cache, sub), exist_ok=True)
    todo = [c for c in range(POOL_CHUNKS) if not os.path.exists(labels_path(cache, c))]
    if todo:
        def gen(it):
            for pdf in it:
                n = [_write_chunk(cache, int(c)) for c in pdf["id"]]
                yield pd.DataFrame({"n": pd.Series(n, dtype="int64")})

        ids = spark.createDataFrame([(c,) for c in todo], "id long").repartition(len(todo))
        n = ids.mapInPandas(gen, "n long").groupBy().sum("n").collect()[0][0]
        if n != len(todo) * CHUNK:
            raise RuntimeError(f"generated {n} clips, expected {len(todo) * CHUNK}")
    oracles = _oracle_hashes(root)
    with open(os.path.join(cache, "oracles.json"), "w") as fh:
        json.dump(oracles, fh, indent=1)
    manifest = {"chunk": CHUNK, "pool_chunks": POOL_CHUNKS}
    with open(os.path.join(cache, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
