#!/usr/bin/env python3
"""Warm, pinned, job-shaped benchmark of the xtract extraction job.

    python3 perfbench/run.py --workload spans-layout --seed 1 --seconds 6 --trace 0

Run from the repository root. Each run builds its SparkSession at
``local[N]`` (N = ``SPARK_GRAFT_CPUS`` or the CPUs this process may use),
warms the JVM up, then times repeated in-process ``job.main([...])`` passes
until ``--seconds`` of pass time is measured. ``job.main`` stops the session
at its end, so the session is rebuilt, untimed, before every pass; each
rebuild (build plus a trivial ``mapInPandas`` round trip) is one set-up
sample. After the timed passes the written spans are checked against the
oracle and against the relational plan.

``--trace 1`` adds the layer table: a ladder of Spark actions that adds one
layer at a time, traced ``job.main`` passes, an all-sinks pass, and
single-core kernel stage times. README.md in this directory has the metric
and layer map.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` (turns) and ``metrics``. A JSON record of every pass goes to
``perfbench/.work/runs/``.
"""
from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"

# Corpus size per workload, chosen so one warm pass takes a few seconds on
# 4 vCPUs and a whole run (JVM start included) stays near a minute, and the
# number of untimed in-session extract -> write_ref passes that, after one
# untimed job pass, warm the JVM up (layout turns move ~8x the bytes).
WORKLOADS = {
    "spans-raw": {"kind": "raw", "turns": 16_000, "warm_extracts": 2},
    "spans-layout": {"kind": "layout", "turns": 8_000, "warm_extracts": 3},
}
PART_FILES_PER_CORE = 2
SAMPLE_MOD = 8  # checks cover conversations with pmod(xxhash64(conv_id), 8) == 0
MIN_TIMED = 3
MAX_PASSES = 40
TRACE_ROUNDS = 2
SINK_TURNS = 2_000  # first turns of the corpus used for the all-sinks pass
STAGE_TURNS = 300
STAGE_REPS = 5
RSS_POLL_S = 0.2
RUN_LIMIT_S = 170
SINKS = ("exam-info", "groups", "windows", "loss-mask", "stats")


def cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def host_probe(threads: int) -> float:
    """Delivered-CPU context (same md5 method as ``bench.host_probe``):
    aggregate MB/s of GIL-releasing md5 over 1 MiB buffers. Recorded, never
    used to normalize a metric."""
    import concurrent.futures as cf
    import hashlib

    buf = b"x" * (1 << 20)

    def work(_):
        h = hashlib.md5()
        for _ in range(100):
            h.update(buf)
        return h.hexdigest()

    t0 = time.perf_counter()
    with cf.ThreadPoolExecutor(threads) as ex:
        list(ex.map(work, range(threads)))
    return threads * 100 / (time.perf_counter() - t0)


def prepare_env(run_dir: Path) -> None:
    """Point every scratch location Spark, the JVM and Python use into the
    run's work directory; make ``xtract`` importable by Python workers."""
    tmp = run_dir / "tmp"
    (run_dir / "spark-local").mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # workers unpickle the benchmark's own map functions by module name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(BENCH), os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )


# ------------------------------------------------------------- worker RSS
def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, stack = [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def worker_hwm_mb() -> float:
    """Max VmHWM (MB) over this process's Python worker descendants."""
    best = 0.0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]) / 1024)
                        break
        except OSError:
            continue
    return best


class RssPoller:
    """Polls worker VmHWM while a pass runs; workers die with the session
    ``job.main`` stops, so the peak is read while they are alive."""

    def __init__(self) -> None:
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(RSS_POLL_S):
            self.peak = max(self.peak, worker_hwm_mb())

    def __enter__(self) -> "RssPoller":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------- passes
def _identity(batches):
    yield from batches


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.seconds, self.trace = seconds, trace
        self.n = cores()
        self.master = f"local[{self.n}]"
        self.run_dir = WORK / f"run-{os.getpid()}"
        self.record: dict = {
            "workload": workload, "seed": seed, "seconds": seconds,
            "trace": int(trace), "cores": self.n, "master": self.master,
            "setups": [], "warmup": [], "passes": [], "phases": [],
        }
        self.spark = None
        self._t0 = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Record when a run phase ends (seconds since the run started)."""
        self.record["phases"].append((phase, time.perf_counter() - self._t0))

    # -- session
    def setup(self) -> None:
        """One set-up sample: SparkSession build at local[N] plus the first
        Python-worker round trip."""
        from xtract import session

        t0 = time.perf_counter()
        self.spark = session.build(
            app="perfbench", master=self.master, cores=self.n,
            shuffle_partitions=self.n,
        )
        self.spark.range(0, self.n, numPartitions=self.n).mapInPandas(
            _identity, "id long"
        ).collect()
        self.record["setups"].append(time.perf_counter() - t0)

    def job_argv(self, corpus: str, out: Path, sinks: bool) -> list[str]:
        argv = ["--input", corpus, "--output", str(out / "spans"),
                "--partitions", str(self.n)]
        if sinks:
            for s in SINKS:
                argv += [f"--{s}", str(out / s)]
        return argv

    def job_pass(self, argv: list[str], tracer=None, sink_names=None) -> dict:
        """Time one in-process ``job.main`` pass on the active session and
        record the master it ran on. The session is gone afterwards."""
        import job
        from xtract import session

        masters: list[str] = []
        real_build = session.build

        def build(*a, **k):
            s = real_build(*a, **k)
            masters.append(s.sparkContext.master)
            return s

        session.build = build
        if tracer is not None:
            from layers import install_job_wrappers

            install_job_wrappers(tracer, sink_names or {})
        buf = io.StringIO()
        rec: dict = {}
        try:
            with RssPoller() as rss, contextlib.redirect_stdout(buf):
                t0 = time.perf_counter()
                if tracer is not None:
                    with tracer.span("job.main"):
                        rc = job.main(argv)
                else:
                    rc = job.main(argv)
                rec["wall_s"] = time.perf_counter() - t0
            rec["rc"] = rc
            rec["job"] = json.loads(buf.getvalue().strip().splitlines()[-1])
        except Exception:  # a failed pass is counted, not fatal
            rec["error"] = traceback.format_exc(limit=5)
            print(rec["error"], file=sys.stderr)
            with contextlib.suppress(Exception):
                from pyspark.sql import SparkSession

                active = SparkSession.getActiveSession()
                if active is not None:
                    active.stop()
        finally:
            if tracer is not None:
                tracer.unwrap_all()
            session.build = real_build
            self.spark = None
        rec["rss_mb"] = rss.peak
        rec["master"] = masters[0] if masters else None
        if masters and rec["master"] != self.master:
            raise SystemExit(
                f"job.main ran on {rec['master']!r}, expected {self.master!r}"
            )
        return rec

    # -- run phases
    def warm_up(self, corpus: str, extracts: int, digest: "DigestChecks") -> None:
        """Untimed, on the cold session: one job.main pass first (the first
        job pass in a JVM runs slow however warm the JVM is), then, on a new
        session, in-session extract -> write_ref passes (JIT warm-up) and the
        reference digests for the output checks."""
        from xtract import catalog, pipeline

        rec = self.job_pass(self.job_argv(corpus, self.run_dir / "warm" / "job", False))
        self.record["warmup"].append({"kind": "job", **rec})
        self.setup()
        for i in range(extracts):
            t0 = time.perf_counter()
            catalog.write_ref(
                pipeline.extract(catalog.read_ref(self.spark, corpus)),
                str(self.run_dir / "warm" / f"x{i}"),
            )
            self.record["warmup"].append(
                {"kind": "extract", "wall_s": time.perf_counter() - t0})
        digest.references(self.spark, relational=self.trace)
        self.mark("references")
        self.spark.stop()

    def timed_passes(self, corpus: str) -> list[dict]:
        passes: list[dict] = []
        while len(passes) < MAX_PASSES and (len(passes) < MIN_TIMED or sum(
            p.get("wall_s", 0.0) for p in passes
        ) < self.seconds):
            self.setup()
            out = self.run_dir / "out" / f"p{len(passes)}"
            rec = self.job_pass(self.job_argv(corpus, out, False))
            rec["out"] = str(out / "spans")
            passes.append(rec)
        return passes


# ---------------------------------------------------------------- checks
class DigestChecks:
    """Sink-integrity and relational cross-checks on one conversation-hash
    sample of the corpus (conversations with pmod(xxhash64(conv_id),
    SAMPLE_MOD) == 0).

    - integrity: for each written output, ``parity.spark_digests`` of the
      written spans must equal ``parity.oracle_digests`` on every sampled
      turn;
    - relational: the last output's digests against those of
      ``pipeline.extract(mode="relational")`` on the same sample.

    ``references`` runs early in the run, as part of the warm-up;
    ``compare`` runs once after the timed passes.
    """

    def __init__(self, corpus: str) -> None:
        self.corpus = corpus
        self.times: dict[str, float] = {}
        self.oracle: dict = {}
        self.rel: dict = {}

    def _sample(self, df):
        import pyspark.sql.functions as F

        return df.filter(F.pmod(F.xxhash64("conv_id"), F.lit(SAMPLE_MOD)) == 0)

    @staticmethod
    def _digests(df) -> dict:
        from xtract import parity

        return {(r.conv_id, r.turn_idx): r.digest
                for r in parity.spark_digests(df).collect()}

    def references(self, spark, relational: bool) -> None:
        from xtract import catalog, parity, pipeline

        sample = self._sample(catalog.read_ref(spark, self.corpus))
        t0 = time.perf_counter()
        self.oracle = {(r.conv_id, r.turn_idx): r.digest
                       for r in parity.oracle_digests(sample).collect()}
        self.times["oracle_s"] = time.perf_counter() - t0
        if relational:
            t0 = time.perf_counter()
            self.rel = self._digests(pipeline.extract(sample, mode="relational"))
            self.times["relational_s"] = time.perf_counter() - t0

    def compare(self, spark, outputs: dict[str, str]) -> dict:
        from functools import reduce

        import pyspark.sql.functions as F

        from xtract import catalog, parity

        t0 = time.perf_counter()
        # one digest job over every output, told apart by a conv_id prefix
        union = reduce(lambda a, b: a.unionByName(b), [
            self._sample(catalog.read_ref(spark, path)).withColumn(
                "conv_id", F.concat(F.lit(tag + "|"), "conv_id"))
            for tag, path in outputs.items()
        ])
        got: dict[str, dict] = {tag: {} for tag in outputs}
        for (conv, turn), digest in self._digests(union).items():
            tag, conv = conv.split("|", 1)
            got[tag][(conv, turn)] = digest
        self.times["written_s"] = time.perf_counter() - t0

        def diff(d: dict, ref: dict) -> int:
            return sum(
                d.get(k, parity.EMPTY_DIGEST) != ref.get(k, parity.EMPTY_DIGEST)
                for k in set(ref) | set(d)
            )

        out = {
            "sampled_turns": len(self.oracle),
            "integrity_mismatch": {t: diff(got[t], self.oracle) for t in outputs},
            **self.times,
        }
        if self.rel:
            out["relational_mismatch"] = diff(got[list(outputs)[-1]], self.rel)
        return out


def reconcile_sinks(spark, out: Path, turns: int, spans: int) -> dict:
    """Row-count relations the all-sinks schemas imply exactly."""
    import pyspark.sql.functions as F

    from xtract import catalog

    def read(name):
        return catalog.read_ref(spark, str(out / name))

    stats = read("stats").agg(
        F.count("*").alias("convs"), F.sum("spans").alias("spans")).first()
    span_convs = read("spans").select("conv_id").distinct().count()
    checks = {
        "loss_mask_rows==turns": (read("loss-mask").count(), turns),
        "exam_info_rows==turns": (read("exam-info").count(), turns),
        "sum(windows.n_turns)==turns": (
            read("windows").agg(F.sum("n_turns")).first()[0], turns),
        "sum(stats.spans)==spans": (stats.spans, spans),
        "stats_rows==convs_with_spans": (stats.convs, span_convs),
    }
    return {k: {"got": int(a or 0), "want": int(b), "ok": int(a or 0) == int(b)}
            for k, (a, b) in checks.items()}


# ---------------------------------------------------------------- traced
def traced_passes(b: Bench, corpus: dict) -> None:
    """The traced run's Spark work, recorded in ``b.record``: TRACE_ROUNDS
    rounds of (ladder + untraced job pass, traced job pass), then one
    traced all-sinks job pass over the corpus head."""
    from layers import Tracer, job_span_times, ladder_pass

    tracer = Tracer()
    ladders, plain, traced = [], [], []
    for r in range(TRACE_ROUNDS):
        b.setup()
        ladders.append(ladder_pass(b.spark, corpus["path"], str(b.run_dir / "ladder")))
        out = b.run_dir / "out" / f"u{r}"
        plain.append({**b.job_pass(b.job_argv(corpus["path"], out, False)),
                      "out": str(out / "spans")})
        b.setup()
        out = b.run_dir / "out" / f"t{r}"
        root = len(tracer.spans)
        rec = b.job_pass(b.job_argv(corpus["path"], out, False), tracer,
                         {str(out / "spans"): "spans"})
        traced.append({**rec, "spans": job_span_times(tracer.spans, root)})
    b.mark("trace-rounds")

    b.setup()
    out = b.run_dir / "out" / "sinks"
    root = len(tracer.spans)
    rec = b.job_pass(b.job_argv(corpus["head"], out, True), tracer,
                     {str(out / "spans"): "spans", **{str(out / s): s for s in SINKS}})
    b.mark("all-sinks")
    b.record.update(
        ladder=ladders, passes=plain, traced_passes=traced,
        sink_pass={**rec, "out_dir": str(out),
                   "spans": job_span_times(tracer.spans, root)},
        trace_spans=tracer.self_times(),
    )


def output_counts(spark, spans_path: str) -> dict:
    import pyspark.sql.functions as F

    from xtract import catalog

    row = catalog.read_ref(spark, spans_path).agg(
        F.count("*").alias("spans"),
        F.count_if("split_from_merged").alias("split_spans"),
        F.sum("image_count").alias("images_assigned"),
    ).first()
    return {k: int(row[k] or 0) for k in row.asDict()}


# pieces of a traced all-sinks pass per sink: the call that plans it and
# the write that runs it
SINK_METRICS = {
    "pipeline.exam_info_s": ("pipeline.exam_info", "write.exam-info"),
    "pipeline.groups_s": ("pipeline.analyze", "pipeline.flatten_groups",
                          "write.groups"),
    "structure.windows_s": ("structure.conv_windows", "write.windows"),
    "structure.loss_mask_s": ("structure.loss_mask", "write.loss-mask"),
    "pipeline.stats_s": ("pipeline.conversation_stats", "write.stats"),
}


def layer_metrics(rec: dict, corpus: dict) -> dict:
    """The per-layer table from a traced run's record."""
    from layers import LADDER

    med = statistics.median
    lad = {lv: med(l[lv] for l in rec["ladder"]) for lv in LADDER}
    job_s = med(p["wall_s"] for p in rec["passes"])
    traced_s = med(p["wall_s"] for p in rec["traced_passes"])

    def span(key):
        return med(p["spans"].get(key, 0.0) for p in rec["traced_passes"])

    sink = rec["sink_pass"]["spans"]
    counts = rec["output_counts"]
    stages = rec["kernel_stages"]
    m = {
        "catalog.scan_s": lad["scan"],
        "pipeline.handoff_s": lad["handoff"] - lad["scan"],
        "oracle.kernel_s": lad["kernel"] - lad["handoff"],
        "pipeline.emit_s": lad["extract"] - lad["kernel"],
        "catalog.sink_s": lad["write"] - lad["extract"],
        "job.overhead_s": job_s - lad["write"],
        "job.pass_s": job_s,
        "job.recount_s": span("recount"),
        "job.count_ref_s": span("catalog.count_ref"),
        "job.stop_s": span("session.stop"),
        **{name: sum(sink.get(k, 0.0) for k in keys)
           for name, keys in SINK_METRICS.items()},
        "job.sinks_pass_s": sink["job.main"],
        "oracle.turns": corpus["turns"],
        "oracle.spans": counts["spans"],
        "oracle.split_spans": counts["split_spans"],
        "oracle.image_blocks": corpus["image_blocks"],
        "oracle.images_assigned": counts["images_assigned"],
        "oracle.assign_ratio":
            counts["images_assigned"] / max(corpus["image_blocks"], 1),
        "input.bytes_per_turn": corpus["bytes_per_turn"],
        "trace.overhead_frac": 1.0 - job_s / traced_s,
    }
    for st in ("parse", "split", "merge", "structure", "turn"):
        if f"{st}_us" in stages:
            m[f"oracle.{st}_us"] = stages[f"{st}_us"]
    return m


UNITS = {"turns_per_s": "1/s", "_mb": "MB", "_s": "s", "_us": "us",
         "_frac": "1", "_ratio": "1", "bytes_per_turn": "B"}


def unit_of(name: str) -> str:
    return next((u for suf, u in UNITS.items() if name.endswith(suf)), "count")


# ------------------------------------------------------------------ main
def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "job.py").is_file() or not (ROOT / "xtract").is_dir():
        print(f"no xtract checkout around {BENCH}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    import corpus as corpus_mod

    # a hung run fails on its own, well inside the 180 s a run may take
    watchdog = threading.Timer(RUN_LIMIT_S, _abort)
    watchdog.daemon = True
    watchdog.start()
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    shutil.rmtree(b.run_dir, ignore_errors=True)
    prepare_env(b.run_dir)
    wl = WORKLOADS[args.workload]
    files = PART_FILES_PER_CORE * b.n
    corpus = corpus_mod.build(WORK / "corpus", wl["kind"], args.seed,
                              wl["turns"], b.n, files, SINK_TURNS)
    b.record["corpus"] = corpus
    b.mark("corpus")
    b.record["host_probe_start_mb_s"] = host_probe(b.n)
    b.mark("probe")

    try:
        b.setup()
        b.record["cold_setup_s"] = b.record["setups"][0]
        b.mark("cold-setup")
        digest = DigestChecks(corpus["path"])
        b.warm_up(corpus["path"], wl["warm_extracts"], digest)
        b.mark("warm-up")
        if args.trace:
            traced_passes(b, corpus)
        else:
            b.record["passes"] = b.timed_passes(corpus["path"])
        b.mark("passes")
        passes = b.record["passes"]
        b.setup()
        outputs = {f"p{i}": p["out"] for i, p in enumerate(passes) if "job" in p}
        checks = digest.compare(b.spark, outputs) if outputs else {}
        if args.trace:
            sink = b.record["sink_pass"]
            b.record["output_counts"] = output_counts(b.spark, passes[-1]["out"])
            b.record["sink_reconcile"] = reconcile_sinks(
                b.spark, Path(sink["out_dir"]), SINK_TURNS, sink["job"]["spans"]
            ) if "job" in sink else {"all-sinks pass ran": {"ok": False}}
        b.spark.stop()
    finally:
        shutdown()
    b.mark("checks")
    b.record["checks"] = checks
    if args.trace:
        import pyarrow.parquet as pq

        from layers import kernel_stages

        texts = pq.read_table(corpus["head"], columns=["text"]).column("text")
        b.record["kernel_stages"] = kernel_stages(
            texts.to_pylist()[:STAGE_TURNS], STAGE_REPS)
    b.record["host_probe_end_mb_s"] = host_probe(b.n)
    b.mark("probe-end")

    turns = corpus["turns"]
    bad = checks.get("integrity_mismatch", {})
    attempted = failed = 0
    for i, p in enumerate(passes):
        attempted += turns
        if ("job" not in p or p["rc"] != 0 or p["job"]["turns"] != turns
                or bad.get(f"p{i}", 1)):
            failed += turns
    sampled = max(checks.get("sampled_turns", 0), 1)
    mismatch = checks.get("relational_mismatch", 0)
    b.record["mismatch_frac"] = mismatch / sampled
    walls = [p["wall_s"] for p in passes if "wall_s" in p]
    b.record["trend_per_pass"] = _trend(walls)
    print(
        f"[perfbench] {args.workload} seed={args.seed}: corpus generated in "
        f"{corpus['gen_s']:.1f} s, {len(walls)} timed passes, trend "
        f"{b.record['trend_per_pass']:+.3f}/pass"
        + (f", relational mismatch {mismatch}/{sampled} sampled turns"
           if "relational_mismatch" in checks else ""),
        file=sys.stderr,
    )

    if args.trace:
        out_metrics = {**layer_metrics(b.record, corpus),
                       "check.mismatch_frac": mismatch / sampled}
    else:
        out_metrics = {
            "turns_per_s": turns / statistics.median(walls) if walls else 0.0,
            "setup_s": statistics.median(b.record["setups"]),
            "worker_peak_rss_mb": statistics.median(p["rss_mb"] for p in passes),
        }
    runs = WORK / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    (runs / f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json"
     ).write_text(json.dumps({**b.record, "metrics": out_metrics}, indent=1,
                             default=str))
    shutil.rmtree(b.run_dir, ignore_errors=True)

    correct = failed == 0 and bool(walls) and all(
        c["ok"] for c in b.record.get("sink_reconcile", {}).values())
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": unit_of(k)}
                    for k, v in out_metrics.items()},
    }))
    return 0


def _abort() -> None:
    print(f"[perfbench] run exceeded {RUN_LIMIT_S} s; aborting", file=sys.stderr)
    os._exit(3)


def shutdown() -> None:
    """Stop Spark, end the JVM and wait until every child process is gone."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
    deadline = time.monotonic() + 20
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    left = _descendants(os.getpid())
    if left:
        print(f"[perfbench] child processes still running: {left}", file=sys.stderr)


def _trend(walls: list[float]) -> float:
    """Least-squares slope of pass wall time per pass, as a share of the
    median; clearly negative means the passes were still warming up."""
    n = len(walls)
    if n < 2:
        return 0.0
    xm, ym = (n - 1) / 2, statistics.fmean(walls)
    slope = sum((i - xm) * (w - ym) for i, w in enumerate(walls)) / sum(
        (i - xm) ** 2 for i in range(n))
    return slope / statistics.median(walls)


if __name__ == "__main__":
    sys.exit(main())
