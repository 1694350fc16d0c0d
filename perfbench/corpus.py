"""Seeded, cached benchmark corpora built from ``xtract.gen``'s row functions.

A corpus is a parquet directory of transcript rows (``schema.TRANSCRIPTS``)
made by ``gen.turn_row`` over conversations whose lengths come from
``gen.n_turns_for``. The benchmark seed is folded into the conversation ids
(which key gen's per-turn RNG) and into the conversation ordinals, so
``xtract/gen.py`` itself stays untouched. Turns are kept or dropped by the
payload kind ``oracle.parse_payload`` sees:

- ``raw``: payloads it wraps as one synthetic raw-text block (gen kinds a+c);
- ``layout``: layout-parse JSON payloads (gen kind b).

Generation runs in a small spawn pool before Spark starts and is timed on its
own; it is never part of a metric. The cache key covers the payload kind,
seed, size and a digest of ``xtract/gen.py``, ``xtract/oracle.py`` and this
file, so a stale corpus is never timed.
"""
from __future__ import annotations

import gc
import hashlib
import json
import multiprocessing
import os
import shutil
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CONVS_PER_CHUNK = 64
KEEP_CORPORA = 24  # cache entries kept; the oldest beyond this are removed


def payload_kind(text: str | None, payload: dict) -> str:
    """``raw`` when ``oracle.parse_payload`` wrapped ``text`` as its single
    synthetic block (``payload`` is what it returned), else ``layout``."""
    blocks = payload["blocks"]
    if (
        not payload["lines"]
        and len(blocks) == 1
        and blocks[0].get("block_content") == (text or "")
    ):
        return "raw"
    return "layout"


def _conv_base(seed: int) -> int:
    # gen stamps ts = EPOCH + conv_ord hours; keeping ordinals below ~2M
    # keeps every timestamp inside the datetime64[ns] range pandas uses
    return (seed % 100) * 20_000


def _gen_chunk(args: tuple[int, int, int, str]) -> list[dict]:
    """Rows of conversations [lo, hi) for ``seed`` whose payload kind is
    ``kind``. Runs in a pool worker."""
    from xtract import gen, oracle

    seed, lo, hi, kind = args
    base = _conv_base(seed)
    rows = []
    for i in range(lo, hi):
        conv_ord = base + i
        conv_id = f"s{seed}c{i:07d}"
        for t in range(gen.n_turns_for(conv_ord)):
            row = gen.turn_row(conv_id, t, conv_ord)
            payload = oracle.parse_payload(row["text"])
            k = payload_kind(row["text"], payload)
            if k != kind:
                continue
            row["_layout"] = k == "layout"
            row["_bytes"] = len((row["text"] or "").encode())
            row["_images"] = sum(
                1 for b in payload["blocks"] if b.get("block_label") == "image"
            )
            rows.append(row)
    return rows


def _digest() -> str:
    h = hashlib.sha256()
    for p in (
        ROOT / "xtract" / "gen.py",
        ROOT / "xtract" / "oracle.py",
        Path(__file__),
    ):
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _evict(cache: Path, keep: int) -> None:
    entries = sorted(
        (p for p in cache.iterdir() if (p / "meta.json").exists()),
        key=lambda p: p.stat().st_mtime,
    )
    for p in entries[:-keep] if len(entries) > keep else []:
        shutil.rmtree(p, ignore_errors=True)


def _paths(entry: Path) -> dict:
    return {"path": str(entry / "data"), "head": str(entry / "head")}


def build(
    cache: Path, kind: str, seed: int, turns: int, procs: int, files: int,
    head: int,
) -> dict:
    """Return the corpus metadata, generating and caching the corpus when it
    is missing. ``path`` is the corpus; ``head`` a copy of its first
    ``head`` turns. ``gen_s`` is 0.0 on a cache hit; ``gen_s_cached`` keeps
    the original generation time."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = hashlib.sha256(
        f"{kind}:{seed}:{turns}:{files}:{head}:{_digest()}".encode()
    ).hexdigest()[:16]
    out = cache / f"{kind}-s{seed}-n{turns}-{key}"
    meta_path = out / "meta.json"
    if meta_path.exists():
        meta = json.loads(meta_path.read_text())
        os.utime(out)
        return {**meta, **_paths(out), "gen_s": 0.0, "cache_hit": True}

    t0 = time.perf_counter()
    rows: list[dict] = []
    pool = multiprocessing.get_context("spawn").Pool(procs)
    try:
        # whole waves of chunks, so the pool is never torn down mid-task
        c = 0
        while len(rows) < turns:
            tasks = [
                (seed, i * CONVS_PER_CHUNK, (i + 1) * CONVS_PER_CHUNK, kind)
                for i in range(c, c + procs)
            ]
            c += procs
            for chunk in pool.map(_gen_chunk, tasks):
                rows.extend(chunk)
        pool.close()
    finally:
        pool.terminate()
        pool.join()
    # the spawn pool started multiprocessing's resource tracker; once the
    # pool's semaphores are released, end it so no process outlives the run
    del pool
    gc.collect()
    from multiprocessing import resource_tracker

    stop_tracker = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop_tracker is not None:
        stop_tracker()
    rows = rows[:turns]

    meta = {
        "kind": kind,
        "seed": seed,
        "turns": turns,
        "convs": len({r["conv_id"] for r in rows}),
        "layout_share": sum(r["_layout"] for r in rows) / turns,
        "bytes_per_turn": sum(r["_bytes"] for r in rows) / turns,
        "image_blocks": sum(r["_images"] for r in rows),
        "images_per_turn": sum(r["_images"] for r in rows) / turns,
        "digest": key,
    }
    for r in rows:
        del r["_layout"], r["_bytes"], r["_images"]
    schema = pa.schema(
        [
            pa.field("conv_id", pa.string(), nullable=False),
            pa.field("turn_idx", pa.int32(), nullable=False),
            pa.field("role", pa.string()),
            pa.field("text", pa.string()),
            pa.field("tool", pa.string()),
            pa.field("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    table = pa.Table.from_pylist(rows, schema=schema)
    tmp = cache / f".tmp-{key}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "data").mkdir(parents=True)
    step = -(-turns // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, tmp / "data" / f"part-{i:05d}.parquet")
    (tmp / "head").mkdir()
    pq.write_table(table.slice(0, head), tmp / "head" / "part-00000.parquet")
    meta["gen_s_cached"] = time.perf_counter() - t0
    (tmp / "meta.json").write_text(json.dumps(meta, indent=1))
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    _evict(cache, KEEP_CORPORA)
    return {**meta, **_paths(out), "gen_s": meta["gen_s_cached"], "cache_hit": False}
