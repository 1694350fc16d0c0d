"""Traced-run instruments: a span recorder around calls into the engine's
public functions, the outside-in layer ladder, and single-core kernel
stage timing.

Nothing here edits the engine. Spans come from wrappers that the
benchmark installs on module attributes (``catalog.write_ref`` and so on)
for the length of one traced ``job.main`` pass and removes afterwards.
"""
from __future__ import annotations

import contextlib
import statistics
import time
from typing import Any, Callable, Iterator


class Tracer:
    """In-memory spans (id, name, start, end, parent, attrs) recorded on the
    driver thread; written out once, at the end of the run."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self._undo: list[tuple[Any, str, Any]] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[None]:
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **({"attrs": attrs} if attrs else {}),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        attrs: Callable[..., dict] | None = None,
    ) -> None:
        real = getattr(owner, attr)

        def traced(*a, **k):
            with self.span(name, **(attrs(*a, **k) if attrs else {})):
                return real(*a, **k)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, real))

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, real = self._undo.pop()
            setattr(owner, attr, real)

    def self_times(self) -> list[dict[str, Any]]:
        """Each span with ``dur`` and ``self`` = dur minus its children's
        time (children run sequentially on the driver thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [
            {**s, "dur": s["end"] - s["start"],
             "self": s["end"] - s["start"] - child[s["id"]]}
            for s in self.spans
        ]


def install_job_wrappers(tracer: Tracer, sink_names: dict[str, str]) -> None:
    """Wrap the layer entry points ``job.main`` reaches. ``sink_names`` maps
    an output ref to the sink it belongs to, so each write is labelled."""
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame

    from xtract import catalog, pipeline, session, structure

    def sink_of(*a, **k):
        ref = k["ref"] if "ref" in k else a[1]
        return {"sink": sink_names.get(ref, "other")}

    tracer.wrap(session, "build", "session.build")
    tracer.wrap(catalog, "read_ref", "catalog.read_ref")
    tracer.wrap(catalog, "write_ref", "catalog.write_ref", sink_of)
    tracer.wrap(catalog, "count_ref", "catalog.count_ref")
    for fn in ("extract", "exam_info", "analyze", "flatten_groups",
               "conversation_stats"):
        tracer.wrap(pipeline, fn, f"pipeline.{fn}")
    for fn in ("conv_windows", "loss_mask"):
        tracer.wrap(structure, fn, f"structure.{fn}")
    tracer.wrap(DataFrame, "count", "dataframe.count")
    tracer.wrap(SparkSession, "stop", "session.stop")


def job_span_times(spans: list[dict[str, Any]], root: int) -> dict[str, float]:
    """Seconds per named piece of one traced ``job.main`` pass (root span
    id ``root``): each sink's write, the recount, count_ref and stop."""
    out: dict[str, float] = {}
    for s in spans:
        if s["parent"] != root:
            continue
        if s["name"] == "catalog.write_ref":
            key = f"write.{s['attrs']['sink']}"
        elif s["name"] == "dataframe.count":
            key = "recount"
        else:
            key = s["name"]
        out[key] = out.get(key, 0.0) + s["end"] - s["start"]
    r = spans[root]
    out["job.main"] = r["end"] - r["start"]
    return out


# ---------------------------------------------------------------- ladder
def _drain(batches):
    for _pdf in batches:
        pass
    yield from ()


def _kernel_only(batches):
    from xtract import oracle

    for pdf in batches:
        for text in pdf["text"]:
            oracle.extract_turn(text)
    yield from ()


LADDER = ("scan", "handoff", "kernel", "extract", "write")


def ladder_pass(spark, corpus: str, out: str) -> dict[str, float]:
    """One outside-in ladder: each level adds one layer to the one before,
    and each is a separate Spark action over the whole corpus.

    scan     read_ref -> noop sink
    handoff  + empty mapInPandas (Arrow hand-off into the Python worker)
    kernel   + oracle.extract_turn per turn, nothing emitted
    extract  pipeline.extract (kernel + span emission) -> noop sink
    write    pipeline.extract -> catalog.write_ref
    """
    from xtract import catalog, pipeline, schema

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def cols():
        return catalog.read_ref(spark, corpus).select("conv_id", "turn_idx", "text")

    steps = {
        "scan": lambda: noop(cols()),
        "handoff": lambda: noop(cols().mapInPandas(_drain, schema=schema.SPANS)),
        "kernel": lambda: noop(cols().mapInPandas(_kernel_only, schema=schema.SPANS)),
        "extract": lambda: noop(pipeline.extract(catalog.read_ref(spark, corpus))),
        "write": lambda: catalog.write_ref(
            pipeline.extract(catalog.read_ref(spark, corpus)), out
        ),
    }
    times = {}
    for level in LADDER:
        t0 = time.perf_counter()
        steps[level]()
        times[level] = time.perf_counter() - t0
    return times


# ------------------------------------------------------------ kernel stages
STAGES = ("parse", "split", "merge", "structure")


def _staged(o, text: str) -> tuple[list[dict], list[float]]:
    """``oracle.extract_turn`` spelled out stage by stage (the body of
    ``oracle.extract_payload``), timing each stage."""
    pc = time.perf_counter
    t0 = pc()
    payload = o.parse_payload(text)
    t1 = pc()
    blocks = payload["blocks"]
    lines_by_block: dict = {}
    for ln in payload["lines"]:
        lines_by_block.setdefault(ln.get("block_id"), []).append(ln)
    text_blocks = [b for b in blocks if b.get("block_label") == "text"]
    image_blocks = [b for b in blocks if b.get("block_label") == "image"]
    split_all: list[dict] = []
    for tb in text_blocks:
        split_all.extend(
            o.split_block_v1(tb, lines_by_block.get(tb.get("block_id"), []))
        )
    t2 = pc()
    merged = o.merge_turn(split_all, image_blocks)
    t3 = pc()
    merged.sort(
        key=lambda q: q.get("question_id") or o.LIMITS.missing_number_sentinel
    )
    rows = []
    for q in merged:
        content = q.get("text_content", "")
        safe = content or ""
        rows.append(
            {
                "question_number": q.get("question_id"),
                "qtype": o.classify_qtype(safe),
                "score": o.extract_score(safe),
                "span_text": content,
                "bbox": [int(v) for v in (q.get("bbox") or [])],
                "has_image": q["has_image"],
                "image_ids": q["image_ids"],
                "image_count": len(q["image_ids"]),
                "split_from_merged": bool(q.get("split_from_merged")),
                "source_block_id": q.get("source_block_id"),
            }
        )
    t4 = pc()
    return rows, [t1 - t0, t2 - t1, t3 - t2, t4 - t3]


def kernel_stages(texts: list[str], reps: int) -> dict[str, Any]:
    """Single-core µs/turn per stage over a fixed driver-side sample, median
    of ``reps`` sweeps. The staged composition must equal
    ``oracle.extract_turn`` row for row; if a stage function is gone or the
    composition no longer matches, stage times are reported absent."""
    from xtract import oracle

    n = len(texts)
    turn_us = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for text in texts:
            oracle.extract_turn(text)
        turn_us.append((time.perf_counter() - t0) / n * 1e6)
    out: dict[str, Any] = {"turn_us": statistics.median(turn_us), "sample": n}
    try:
        sums = []
        for rep in range(reps):
            acc = [0.0] * len(STAGES)
            for text in texts:
                rows, dts = _staged(oracle, text)
                if rep == 0 and rows != oracle.extract_turn(text):
                    out["absent"] = "staged composition != oracle.extract_turn"
                    return out
                acc = [a + d for a, d in zip(acc, dts)]
            sums.append(acc)
    except AttributeError as e:
        out["absent"] = f"stage function missing: {e}"
        return out
    for i, st in enumerate(STAGES):
        out[f"{st}_us"] = statistics.median(s[i] for s in sums) / n * 1e6
    return out
