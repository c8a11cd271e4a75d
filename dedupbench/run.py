"""Seeded end-to-end benchmark of the dedup engine.

    python3 dedupbench/run.py --workload batch_lowdup --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. One process drives one Spark session at
``local[<cores>]`` as a single closed-loop caller: the next pass or trigger is
issued only after the previous one returned. The last line of stdout is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics of a
separate traced run. Workloads, metrics and the layer mapping are described in
``dedupbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from corpus import CorpusSpec, generate_checked, pair_scores, union_find, write_parquet  # noqa: E402
from spans import Tracer  # noqa: E402

RECALL_GATE = 0.99


@dataclass(frozen=True)
class Workload:
    spec: CorpusSpec
    triggers: int = 0        # stream: timed micro-batches after the warm-up one
    compact_every: int = 0   # stream: IncrementalDedup.compact_every


# Sizes fit the run budget of BENCHMARK.json on a 4-core host, where a
# pipeline pass has a floor of about 9 s of per-job latency whatever its
# input, and a micro-batch about 6 s. README.md gives the measurements.
WORKLOADS = {
    # long pages, few duplicates: the most kernel work per doc. Runnable by
    # hand; not in BENCHMARK.json (see README.md)
    "batch_lowdup": Workload(
        CorpusSpec(n_pages=200, min_tokens=500, max_tokens=2000,
                   dup_fraction=0.1, max_cluster=5),
    ),
    # short pages in large clusters plus shells: hot band groups past
    # max_band_group, star and salted pairs, large verify joins,
    # multi-round components and non-empty span edges
    "batch_dupheavy": Workload(
        CorpusSpec(n_pages=240, min_tokens=60, max_tokens=300,
                   dup_fraction=0.9, max_cluster=32, shell_share=0.3),
    ),
    # pre-signed micro-batches against a seeded store: store reads, appends,
    # compaction and per-trigger job barriers; the kernels run in set-up only
    "stream_ingest": Workload(
        CorpusSpec(n_pages=600, min_tokens=100, max_tokens=400,
                   dup_fraction=0.4, max_cluster=5),
        triggers=3, compact_every=2,
    ),
}


# ---------------------------------------------------------------- process tree


class PeakRss:
    """Samples the summed RSS of this process and all its descendants (the
    JVM and its Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.2) -> None:
        self.peak_bytes = 0
        self._interval = interval
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())


# ---------------------------------------------------------------- session


def build_spark(work: str, cores: int, event_dir: str | None):
    from cqaduplicatefind_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    extra = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_dir:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    spark = build_session(app_name="dedupbench", master=f"local[{cores}]",
                          shuffle_partitions=cores, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def dedup_config(cores: int):
    """The default duplicate semantics (k=5, J>=0.8, span pass on). Only the
    execution widths are sized to the host, as a deployment sizes them to
    its cluster; they are not part of the config fingerprint."""
    from cqaduplicatefind_spark.config import DedupConfig

    return DedupConfig(shuffle_partitions=cores, signature_partitions=cores)


def stop_spark(spark) -> None:
    """Stop the context, then the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------- helpers


def assignment_digest(assignment: dict) -> str:
    h = hashlib.sha256()
    for url in sorted(assignment):
        h.update(f"{url}\t{assignment[url]}\n".encode())
    return h.hexdigest()


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def mark_loop_start(timings: dict) -> float:
    timings["steal_start"] = cpu_steal()
    timings["loop_start"] = time.perf_counter()
    return timings["loop_start"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """State of one benchmark run: operations attempted and failed, the
    correctness verdict and its reasons."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def op(self, fn, *args):
        """Run one timed operation; an exception counts as a failure and
        does not abort the run. Returns (seconds, result or None)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args)
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return time.perf_counter() - t0, None
        return time.perf_counter() - t0, out

    def gate(self, ok: bool, why: str) -> None:
        if not ok:
            self.problems.append(why)
            print(f"correctness: {why}", file=sys.stderr)


# ---------------------------------------------------------------- batch


def _pass_pages(base, i: int):
    """The workload's pages for pass ``i``: a run of ``i + 1`` stopwords is
    prepended to every page. Normalization drops stopwords, so every pass
    clusters the same normalized documents, but no pass repeats the raw text
    of an earlier one: warm passes cannot turn into hits of the per-worker
    normalization memo, which a real crawl would not get either."""
    from pyspark.sql import functions as F

    prefix = "the " * (i + 1)
    return base.withColumn(
        "html", F.concat(F.lit(f"<p>{prefix}</p>".encode()), F.col("html"))
    ).withColumn("text", F.concat(F.lit(prefix), F.col("text")))


def _pipeline_pass(spark, pages, cfg):
    from cqaduplicatefind_spark.plans.pipeline import run_pipeline

    result = run_pipeline(spark, pages, cfg, use_html=True)
    result.clusters.count()
    return result


def _collect_assignment(result) -> dict:
    try:
        return {r["url"]: r["cluster_id"] for r in result.clusters.collect()}
    finally:
        result.release()


class TracedPipeline:
    """Spans around every call ``run_pipeline`` makes into ``functions`` and
    ``operators``. Each wrapped call materializes its output inside its span
    (persist + count), so the span holds that layer's work and not just plan
    construction; the row count is recorded on the span."""

    TARGETS = {
        ("plans.pipeline", "normalize_stage"): ("functions.normalize_stage", "functions"),
        ("plans.pipeline", "signature_stage"): ("functions.signature_stage", "functions"),
        ("plans.pipeline", "candidate_stage"): ("operators.candidates", "operators"),
        ("plans.pipeline", "score_pairs"): ("operators.verify.score", "operators"),
        ("plans.pipeline", "accept_edges"): ("operators.verify.accept", "operators"),
        ("plans.pipeline", "connected_components"): ("operators.connected_components", "operators"),
        ("plans.pipeline", "attach_singletons"): ("operators.connected_components.attach", "operators"),
        ("operators.overlap", "exact_span_edges"): ("operators.overlap", "operators"),
    }

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.held: list = []

    def _wrap(self, fn, name: str, layer: str):
        def wrapper(*args, **kwargs):
            with self.tracer.span(name, layer) as sp:
                out = fn(*args, **kwargs).persist()
                self.held.append(out)
                sp.counts["rows"] = out.count()
            return out
        return wrapper

    def __enter__(self):
        import importlib

        self._saved = []
        for (mod, attr), (name, layer) in self.TARGETS.items():
            m = importlib.import_module(f"cqaduplicatefind_spark.{mod}")
            fn = getattr(m, attr)
            self._saved.append((m, attr, fn))
            setattr(m, attr, self._wrap(fn, name, layer))
        return self

    def __exit__(self, *exc) -> None:
        for m, attr, fn in self._saved:
            setattr(m, attr, fn)

    def release(self) -> None:
        for df in self.held:
            df.unpersist()
        self.held.clear()


def run_batch(spark, wl: Workload, cfg, corpus, work: str, seconds: float,
              tracer: Tracer, run: Run, timings: dict):
    n = len(corpus.rows)
    pages_dir = os.path.join(work, "pages")
    with tracer.span("session.load", "session"):
        write_parquet(corpus.rows, pages_dir)
        base = spark.read.parquet(pages_dir)

    digests = []

    def check(result, label):
        assignment = _collect_assignment(result)
        digests.append(assignment_digest(assignment))
        run.gate(len(assignment) == n, f"{label}: {len(assignment)} of {n} urls clustered")
        run.gate(digests[-1] == digests[0], f"{label}: cluster digest differs from the warm-up pass")
        return assignment

    with tracer.span("session.warmup", "session") as sp:
        result = _pipeline_pass(spark, _pass_pages(base, 0), cfg)
    timings["warmup"] = sp.wall
    recall, precision = pair_scores(check(result, "warm-up pass"), corpus.clusters)

    # passes until `seconds` have elapsed, at least one; a traced run makes
    # exactly one plain pass (its wall and jobs) and then one traced pass
    passes: list[float] = []
    t_start = mark_loop_start(timings)
    i = 1
    while i == 1 or (not tracer.enabled and time.perf_counter() - t_start < seconds):
        with tracer.span("plans.pipeline.pass", "plans"):
            dt, result = run.op(_pipeline_pass, spark, _pass_pages(base, i), cfg)
        if result is not None:
            passes.append(dt)
            check(result, f"pass {i}")
        i += 1
    traced_root = None
    if tracer.enabled:
        with TracedPipeline(tracer) as tp, \
                tracer.span("plans.pipeline.pass_traced", "plans") as traced_root:
            _, result = run.op(_pipeline_pass, spark, _pass_pages(base, i), cfg)
        if result is not None:
            check(result, f"traced pass {i}")
        tp.release()

    run.gate(recall >= RECALL_GATE, f"pair_recall {recall:.4f} < {RECALL_GATE}")
    e2e = {
        "docs_per_s": (n / median(passes) if passes else 0.0, "docs/s"),
        "op_p50_s": (median(passes), "s"),
        "pair_recall": (recall, "ratio"),
        "pair_precision": (precision, "ratio"),
    }
    return e2e, {"traced_root": traced_root, "untraced": passes}


# ---------------------------------------------------------------- stream


def presign(rows, trig, cfg, path: str) -> None:
    """Sign ``rows`` in-process with the package's kernels, giving the columns
    ``plans.delta.signature_frame`` gives, and write micro-batch ``k`` to
    ``path/trig=k``. One core signs a few hundred docs in about a second; the
    same frame through Spark costs a cold Python-worker start."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cqaduplicatefind_spark.functions.hashing import TokenHasher
    from cqaduplicatefind_spark.functions.normalize import review_to_wordlist
    from cqaduplicatefind_spark.functions.signatures import compute_signatures_pdf

    sig = compute_signatures_pdf(
        pd.Series([review_to_wordlist(r[3]) for r in rows]), cfg,
        TokenHasher(cfg.minhash_seed))
    longs = pa.list_(pa.int64())
    for k in sorted(set(trig)):
        idx = [i for i, t in enumerate(trig) if t == k]
        table = pa.table({
            "url": pa.array([rows[i][0] for i in idx], pa.string()),
            "minhash": pa.array([sig.minhash[i] for i in idx], longs),
            "simhash": pa.array([sig.simhash[i] for i in idx], pa.int64()),
            "n_tokens": pa.array([sig.n_tokens[i] for i in idx], pa.int32()),
            "n_shingles": pa.array([sig.n_shingles[i] for i in idx], pa.int32()),
            "shingles": pa.array([sig.shingles[i] for i in idx], longs),
        })
        os.makedirs(os.path.join(path, f"trig={k}"))
        pq.write_table(table, os.path.join(path, f"trig={k}", "part-0.parquet"))


def run_stream(spark, wl: Workload, cfg, corpus, work: str, seconds: float,
               tracer: Tracer, run: Run, timings: dict):
    from cqaduplicatefind_spark.plans.delta import seed_index
    from cqaduplicatefind_spark.streaming.incremental import (
        SIG_STORE_SCHEMA,
        IncrementalDedup,
    )

    rows = corpus.rows
    # the seeded half holds one member of every gold cluster, topped up with
    # singletons; everything else arrives through the stream, in corpus order
    first = {c[0] for c in corpus.clusters}
    in_cluster = {u for c in corpus.clusters for u in c}
    seed_urls = set(first)
    for r in rows:
        if len(seed_urls) >= len(rows) // 2:
            break
        if r[0] not in in_cluster:
            seed_urls.add(r[0])
    seed_rows = [r for r in rows if r[0] in seed_urls]
    stream_rows = [r for r in rows if r[0] not in seed_urls]
    T = wl.triggers
    trig = [k * T // len(stream_rows) for k in range(len(stream_rows))]

    seed_dir = os.path.join(work, "seed_pages")
    sig_dir = os.path.join(work, "stream_sigs")
    store = os.path.join(work, "store")
    with tracer.span("session.load", "session"):
        write_parquet(seed_rows, seed_dir)
    with tracer.span("functions.presign", "functions"):
        presign(stream_rows, trig, cfg, sig_dir)
    with tracer.span("plans.delta.seed_index", "plans") as sp:
        n_seeded = seed_index(spark, spark.read.parquet(seed_dir), cfg, store)
    timings["seed_index"] = sp.wall
    run.gate(n_seeded == len(seed_rows), f"seed_index indexed {n_seeded} of {len(seed_rows)}")

    def processor(root):
        return IncrementalDedup(
            spark, cfg, *(os.path.join(root, d) for d in ("bands", "sigs", "matches")),
            compact_every=wl.compact_every,
        )

    def trigger(dedup, k):
        dedup.process_batch(spark.read.schema(SIG_STORE_SCHEMA).parquet(
            os.path.join(sig_dir, f"trig={k}")), k)

    # warm-up: the first micro-batch against an empty throwaway store, so the
    # timed loop starts with warm workers and JIT while the real store's
    # compaction schedule stays as planned
    with tracer.span("session.warmup", "session") as sp:
        scratch = os.path.join(work, "warm_store")
        trigger(processor(scratch), 0)
        shutil.rmtree(scratch)
    timings["warmup"] = sp.wall

    dedup = processor(store)

    def tiers():
        return {d for d in os.listdir(dedup.bands_dir) if d.startswith("compacted=")}

    latencies: list[float] = []
    compacted: list[bool] = []
    mark_loop_start(timings)
    for k in range(T):
        before = tiers()
        with tracer.span("streaming.process_batch", "streaming"):
            dt, _ = run.op(trigger, dedup, k)
        latencies.append(dt)
        compacted.append(tiers() != before)

    edges = [(r["id_a"], r["id_b"]) for r in dedup.matches().select("id_a", "id_b").collect()]
    assignment = union_find([r[0] for r in rows], edges)
    recall, precision = pair_scores(assignment, corpus.clusters)
    run.gate(recall >= RECALL_GATE, f"pair_recall {recall:.4f} < {RECALL_GATE}")
    run.gate(sum(compacted) >= 2, f"only {sum(compacted)} compactions in the timed loop")
    e2e = {
        "docs_per_s": (len(stream_rows) / sum(latencies), "docs/s"),
        "op_p50_s": (median(latencies), "s"),
        "pair_recall": (recall, "ratio"),
        "pair_precision": (precision, "ratio"),
    }
    return e2e, {"dedup": dedup, "latencies": latencies, "compacted": compacted,
                 "store": store}


# ---------------------------------------------------------------- per layer


PER_LAYER = {
    "session.build_s": "s",
    "session.warmup_s": "s",
    "functions.html_strip.docs_per_s": "docs/s",
    "functions.normalize.docs_per_s": "docs/s",
    "functions.signatures.docs_per_s": "docs/s",
    "functions.udf_overhead_ratio": "ratio",
    "functions.share": "ratio",
    "plans.pipeline.sign_stage_s": "s",
    "plans.pipeline.jobs_per_pass": "count",
    "plans.pipeline.unattributed_s": "s",
    "plans.pipeline.trace_overhead_ratio": "ratio",
    "plans.delta.seed_index_s": "s",
    "operators.candidates_s": "s",
    "operators.candidates.pairs_per_doc": "pairs/doc",
    "operators.verify_s": "s",
    "operators.verify.accept_ratio": "ratio",
    "operators.verify.shuffle_bytes": "B",
    "operators.connected_components_s": "s",
    "operators.connected_components.jobs": "count",
    "operators.overlap_s": "s",
    "operators.overlap.edges": "count",
    "operators.share": "ratio",
    "streaming.jobs_per_trigger": "count",
    "streaming.shuffle_bytes_per_trigger": "B",
    "streaming.touched_ratio": "ratio",
    "streaming.latency_slope_s_per_100k_index_rows": "s/100k_rows",
    "streaming.compaction_trigger_extra_s": "s",
    "streaming.store_files": "count",
    "streaming.store_bytes": "B",
    "streaming.functions_share": "ratio",
}


def kernel_rates(corpus, cfg, use_html: bool, sample: int = 200) -> dict:
    """Docs/s of each kernel called in-process on the workload's own docs,
    outside Spark (one core, no Arrow, no normalization memo)."""
    import pandas as pd

    from cqaduplicatefind_spark.functions.hashing import TokenHasher
    from cqaduplicatefind_spark.functions.html_strip import strip_tags
    from cqaduplicatefind_spark.functions.normalize import review_to_wordlist
    from cqaduplicatefind_spark.functions.signatures import compute_signatures_pdf

    rows = corpus.rows[:sample]
    t0 = time.perf_counter()
    texts = [strip_tags(r[2].decode("utf-8")) for r in rows] if use_html else [r[3] for r in rows]
    t1 = time.perf_counter()
    norm = [review_to_wordlist(t) for t in texts]
    t2 = time.perf_counter()
    compute_signatures_pdf(pd.Series(norm), cfg, TokenHasher(cfg.minhash_seed))
    t3 = time.perf_counter()
    n = len(rows)
    strip_rate = n / (t1 - t0) if use_html else 0.0
    return {
        "functions.html_strip.docs_per_s": strip_rate,
        "functions.normalize.docs_per_s": n / (t2 - t1),
        "functions.signatures.docs_per_s": n / (t3 - t2),
        # seconds one core spends in the kernels per doc
        "_kernel_s_per_doc": ((t1 - t0) if use_html else 0.0) / n + (t3 - t1) / n,
    }


def layer_metrics(tracer: Tracer, workload: str, cfg, corpus, state: dict,
                  timings: dict) -> tuple[dict, dict]:
    m = {k: 0.0 for k in PER_LAYER}
    spans = tracer.spans
    by_name = lambda name: [s for s in spans if s.name == name]  # noqa: E731
    wall = lambda name: sum(s.wall for s in by_name(name))  # noqa: E731
    m["session.build_s"] = timings["build"]
    m["session.warmup_s"] = timings["warmup"]
    rates = kernel_rates(corpus, cfg, workload.startswith("batch"))
    kernel_s_per_doc = rates.pop("_kernel_s_per_doc")
    m.update(rates)
    n = len(corpus.rows)
    summary: dict = {}

    root = state.get("traced_root")
    if root is not None:
        rec = tracer.reconcile(root)
        summary["traced_pass"] = rec
        pass_wall = root.wall
        sign = by_name("functions.normalize_stage") + by_name("functions.signature_stage")
        m["plans.pipeline.sign_stage_s"] = sum(s.wall for s in sign)
        m["functions.udf_overhead_ratio"] = (
            sum(s.task_s for s in sign) / (kernel_s_per_doc * n))
        m["functions.share"] = rec["self_s"]["functions"] / pass_wall
        m["operators.share"] = rec["self_s"]["operators"] / pass_wall
        m["plans.pipeline.unattributed_s"] = rec["remainder_s"]
        plain = by_name("plans.pipeline.pass")
        m["plans.pipeline.jobs_per_pass"] = median([s.jobs for s in plain])
        m["plans.pipeline.trace_overhead_ratio"] = pass_wall / median(state["untraced"])
        cands = by_name("operators.candidates")
        m["operators.candidates_s"] = wall("operators.candidates")
        m["operators.candidates.pairs_per_doc"] = cands[0].counts["rows"] / n if cands else 0.0
        score, accept = by_name("operators.verify.score"), by_name("operators.verify.accept")
        m["operators.verify_s"] = sum(s.wall for s in score + accept)
        n_scored = sum(s.counts["rows"] for s in score)
        m["operators.verify.accept_ratio"] = (
            sum(s.counts["rows"] for s in accept) / n_scored if n_scored else 0.0)
        m["operators.verify.shuffle_bytes"] = sum(s.shuffle_write_bytes for s in score + accept)
        cc = by_name("operators.connected_components") + by_name("operators.connected_components.attach")
        m["operators.connected_components_s"] = sum(s.wall for s in cc)
        m["operators.connected_components.jobs"] = sum(s.jobs for s in cc)
        m["operators.overlap_s"] = wall("operators.overlap")
        m["operators.overlap.edges"] = sum(s.counts["rows"] for s in by_name("operators.overlap"))
        summary["shares"] = {"functions": m["functions.share"], "operators": m["operators.share"]}

    if "dedup" in state:
        dedup = state["dedup"]
        trig = by_name("streaming.process_batch")
        m["plans.delta.seed_index_s"] = timings["seed_index"]
        m["streaming.jobs_per_trigger"] = statistics.mean(s.jobs for s in trig)
        m["streaming.shuffle_bytes_per_trigger"] = statistics.mean(
            s.shuffle_write_bytes for s in trig)
        stats = dedup.batch_stats
        joined = sum(b["n_index_band_rows_joined"] for b in stats)
        total = sum(b["n_index_band_rows"] or 0 for b in stats)
        m["streaming.touched_ratio"] = joined / total if total else 0.0
        lat, comp = state["latencies"], state["compacted"]
        # latency net of the trigger's own compaction phase, against the
        # index size the trigger joined against
        xs = [b["n_index_band_rows"] / 1e5 for b in stats]
        ys = [t - ph.get("compact", 0.0) for t, ph in zip(lat, dedup.phase_times)]
        m["streaming.latency_slope_s_per_100k_index_rows"] = (
            statistics.linear_regression(xs, ys).slope if len(set(xs)) > 1 else 0.0)
        m["streaming.compaction_trigger_extra_s"] = (
            median([t for t, c in zip(lat, comp) if c])
            - median([t for t, c in zip(lat, comp) if not c]))
        files = [os.path.join(d, f) for d, _, fs in os.walk(state["store"])
                 for f in fs if f.endswith(".parquet")]
        m["streaming.store_files"] = len(files)
        m["streaming.store_bytes"] = sum(os.path.getsize(f) for f in files)
        # the timed loop calls no functions span: kernels ran in set-up
        fn_in_triggers = sum(
            s.wall for t in trig for s in tracer.subtree(t)[1:] if s.layer == "functions")
        m["streaming.functions_share"] = fn_in_triggers / sum(s.wall for s in trig)
        summary["triggers"] = [tracer.reconcile(t) for t in trig]
        summary["shares"] = {"functions": m["streaming.functions_share"]}
    return m, summary


# ---------------------------------------------------------------- main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    wl = WORKLOADS[args.workload]
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_work", run_id)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    event_dir = os.path.join(work, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    cores = len(os.sched_getaffinity(0))
    cfg = dedup_config(cores)

    run = Run()
    timings: dict = {}
    try:
        with PeakRss() as rss:
            t_setup = time.perf_counter()
            t0 = time.perf_counter()
            spark = build_spark(work, cores, event_dir)
            timings["build"] = time.perf_counter() - t0
            tracer = Tracer(spark, run_id, enabled=bool(args.trace))
            try:
                # set-up counts one generation: the median of the three copies
                # generate_checked makes to prove they are byte-identical
                corpus, gen_s = generate_checked(wl.spec, args.seed)
                runner = run_stream if args.workload == "stream_ingest" else run_batch
                e2e, state = runner(spark, wl, cfg, corpus, work,
                                    args.seconds, tracer, run, timings)
                # everything before the timed loop, counting one generation
                setup_s = (timings["loop_start"] - t_setup
                           - sum(gen_s) + median(gen_s))
                timings["generate"] = median(gen_s)
                # CPU time the hypervisor gave to other guests during the timed
                # loop: a run taken under heavy steal measured the host, not
                # the program
                (s0, t0), (s1, t1) = timings.pop("steal_start"), cpu_steal()
                timings["loop_steal_share"] = (s1 - s0) / max(1, t1 - t0)
                print("timings " + json.dumps({k: round(v, 3) for k, v in timings.items()
                                              if k != "loop_start"}), file=sys.stderr)
            finally:
                stop_spark(spark)
        e2e["setup_s"] = (setup_s, "s")
        e2e["peak_rss_mb"] = (rss.peak_bytes / 2**20, "MB")
        if args.trace:
            tracer.attach_event_log(event_dir)
            metrics, summary = layer_metrics(tracer, args.workload, cfg, corpus,
                                             state, timings)
            out_path = os.path.join(ROOT, ".bench_out", f"trace-{run_id}.json")
            summary["end_to_end"] = {k: v[0] for k, v in e2e.items()}
            tracer.dump(out_path, summary)
            print(f"spans: {out_path}", file=sys.stderr)
            print(json.dumps(summary.get("shares", {})), file=sys.stderr)
            metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in metrics.items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = not run.problems and run.attempted > run.failed
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
