"""The benchmark's workloads, driven through the engine's public entry
points only: build_index, bm25_topk, ingest_batch, maybe_compact and
open_live_index.

A workload names the seeded Parquet inputs it needs (``inputs``), sets up
``SETUP_REPS`` times (``setup``; the first set-up is the cold one, the
last is the warm one that ``setup_s`` reports), runs its operation in a
closed loop with one client until ``seconds`` have passed (``measure``),
and afterwards checks every operation against terrier_spark.oracle
(``verify``).  Why each workload exists is in perfbench/README.md.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import traceback

import pandas as pd

from perfbench import checks, inputs, stats

N_DOCS = 2000            # corpus of query
MICRO_BATCH_DOCS = 300   # ingest_live micro-batch
# Prepared per run: batch 0 is the set-up's base, and each cycle takes one
# more.  An untraced run measures one cycle, or two if the first took less
# than ``--seconds`` (the time budget of the runs allows no more); a traced
# run measures two, one traced and one not.
MICRO_BATCHES = 3
# maybe_compact policy of ingest_live: compact once a second segment
# lands, so each micro-batch is one compaction cycle (README: why not the
# default).
MAX_SEGMENTS = 1
# The mix query every live query of ingest_live runs (the 4-term template
# of the first round), so every cycle does the same work.
LIVE_QUERY = 4
SETUP_REPS = 2
TOP_K = 10


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def _med(values) -> float:
    """Median, or 0 when there is nothing to take it of."""
    values = list(values)
    return stats.median(values) if values else 0.0


def _dur_ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1e3


class Bench:
    """One run: the session, tracer, seeded inputs, and what the run
    records (operation times, checks, per-layer numbers, input report)."""

    def __init__(self, work: str, seed: int, seconds: float):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.start = inputs.window_start(seed)
        self.queries = inputs.query_mix(seed)
        self.spark = None
        self.tracer = None
        self.ops: list[dict] = []
        self.setup_s: list[float] = []
        self.layer: dict[str, float] = {}
        self.report: dict = {"window_start": self.start}
        self.failures: list[str] = []
        self.attempted = 0
        self.source_bytes = 0

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def check(self, what: str, why: str | None) -> None:
        self.attempted += 1
        if why:
            self.failures.append(f"{what}: {why}")

    def spans(self, name: str, phase: str = "op") -> list[dict]:
        return [s for s in self.tracer.named(name) if s.get("phase", "op") == phase]

    def oracle_of(self, names: list[str]):
        from terrier_spark import oracle

        pdf = pd.concat(
            [pd.read_parquet(self.path(n), columns=["doc_id", "content"]) for n in names]
        )
        return oracle.build_index(list(zip(pdf["doc_id"], pdf["content"])))

    def corpus_report(self, o) -> None:
        dl = sorted(o.doclen.values())
        self.report["corpus"] = {
            "docs": o.num_docs,
            "source_bytes": self.source_bytes,
            "doclen": {
                "min": dl[0], "p50": dl[len(dl) // 2],
                "p90": dl[int(len(dl) * 0.9)], "max": dl[-1],
                "mean": o.num_tokens / o.num_docs,
            },
        }

    def index_shape(self, idx) -> dict:
        """Blocks, terms and encoded posting bytes of ``idx``, and the bytes
        Spark holds cached (one Spark job, outside timed regions)."""
        from pyspark.sql import functions as F

        r = idx.blocks.agg(
            F.count("*"), F.sum("n_docs"),
            F.sum(F.length("docno_blob") + F.length("tf_blob") + F.length("dl_blob")),
        ).collect()[0]
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {
            "blocks": int(r[0]),
            "terms": idx.n_terms if idx.n_terms is not None else idx.lexicon.count(),
            "posting_bytes_per_posting": int(r[2]) / int(r[1]),
            "posting_bytes": int(r[2]),
            "cache_bytes": int(sum(i.memSize() + i.diskSize() for i in infos)),
        }

    # -- the measured loop -------------------------------------------------

    def loop(self, step, unit=1, least=1, before=None, exhausted=lambda: False) -> None:
        """Closed loop: ``step()`` until ``seconds`` have passed and at
        least ``least`` operations ran, stopping only after a whole number
        of ``unit`` operations, or until ``exhausted()``.  ``before()``, if
        given, runs before each operation, outside its time.  Traced runs
        interleave traced (T) and untraced (U) operations as T U U T T U U
        T ..., at least one of each, so one run also measures the tracing
        overhead, and a drift over the run (such as warm-up) does not
        favour either side."""
        t0 = time.perf_counter()
        least = max(least, 2 if self.tracer.enabled else 1)
        while True:
            traced = self.tracer.enabled and len(self.ops) % 4 in (0, 3)
            if before is not None:
                before()
            self.tracer.active = traced
            o0 = time.perf_counter()
            with self.tracer.span("bench.op") as root:
                try:
                    rec = step()
                except Exception as e:  # counted as a failed operation
                    traceback.print_exc()
                    self.check(f"op {len(self.ops)}", f"{type(e).__name__}: {e}")
                    rec = {"failed": True}
            rec.update(ms=(time.perf_counter() - o0) * 1e3, traced=traced, span=root)
            self.ops.append(rec)
            n = len(self.ops)
            if exhausted() or (
                time.perf_counter() - t0 >= self.seconds and n >= least and n % unit == 0
            ):
                break
        self.tracer.active = self.tracer.enabled
        self.report["measured_s"] = time.perf_counter() - t0

    def done_ops(self) -> list[dict]:
        return [o for o in self.ops if not o.get("failed")]

    def untraced_ms(self) -> list[float]:
        return [o["ms"] for o in self.done_ops() if not o["traced"]]

    def end_to_end(self, items_per_op: int) -> dict:
        ms = self.untraced_ms()
        self.report["op_ms"] = ms
        self.report["tail"] = stats.tail(ms)
        return {
            "op_p50_ms": stats.median(ms),
            "items_per_s": items_per_op * len(ms) / (sum(ms) / 1e3),
        }

    # -- per-layer numbers of a traced run ---------------------------------

    def build_layer(self, spans: list[dict], shape: dict) -> None:
        """``index_build.*``: medians over the given build spans."""
        tot = [self.tracer.totals(s) for s in spans]

        def med(key, scale=1.0):
            return _med(t[key] * scale for t in tot)

        L = self.layer
        L["index_build.build_s"] = _med(_dur_ms(s) / 1e3 for s in spans)
        for key in ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes"):
            L[f"index_build.{key}"] = med(key)
        L["index_build.executor_run_s"] = med("executor_run_ms", 1e-3)
        L["index_build.executor_cpu_s"] = med("executor_cpu_ms", 1e-3)
        L["index_build.python_total_s"] = med("python_total_ms", 1e-3)
        L["index_build.python_boot_s"] = med("python_boot_ms", 1e-3)
        L["index_build.python_bytes_sent"] = med("python_sent_bytes")
        L["index_build.gc_s"] = med("gc_ms", 1e-3)
        for key in ("blocks", "terms", "posting_bytes_per_posting", "cache_bytes"):
            L[f"index_build.{key}"] = float(shape[key])

    def score_layer(self) -> None:
        """``score.*``: medians over the traced ``score.query`` spans."""
        per_q = []
        for s in self.spans("score.query"):
            t = self.tracer.totals(s)
            per_q.append({
                "driver_ms": _dur_ms(s) - t["job_ms"],
                "jobs": t["jobs"], "stages": t["stages"], "tasks": t["tasks"],
                "shuffle": t["shuffle_read_bytes"] + t["shuffle_write_bytes"],
                "exec_ms": t["executor_run_ms"], "py_ms": t["python_total_ms"],
            })

        def med(key):
            return _med(p[key] for p in per_q)

        L = self.layer
        L["score.call_ms"] = _med(_dur_ms(s) for s in self.spans("score.call"))
        L["score.collect_ms"] = _med(_dur_ms(s) for s in self.spans("score.collect"))
        L["score.driver_ms_per_query"] = med("driver_ms")
        L["score.jobs_per_query"] = med("jobs")
        L["score.stages_per_query"] = med("stages")
        L["score.tasks_per_query"] = med("tasks")
        L["score.shuffle_bytes_per_query"] = med("shuffle")
        L["score.executor_run_ms_per_query"] = med("exec_ms")
        L["score.python_ms_per_query"] = med("py_ms")

    def work_report(self, checked: list[tuple[dict, int, object]]) -> None:
        """Query-mix shares, and Σ df per query and per result, over the
        queries the timed operations ran, given as ``(query of the mix,
        results returned, oracle index)``."""
        from terrier_spark.oracle import tokenize

        sdf = [sum(o.df.get(t, 0) for t in set(tokenize(q["text"]))) for q, _, o in checked]
        results = sum(n for _, n, _ in checked)
        self.report["sum_df_per_query"] = {
            "mean": sum(sdf) / len(sdf), "min": min(sdf), "max": max(sdf),
        }
        self.report["sum_df_per_result"] = sum(sdf) / max(results, 1)
        self.report["query_mix"] = inputs.mix_report([q for q, _, _ in checked])
        self.layer["score.candidate_postings_per_query"] = sum(sdf) / len(sdf)
        self.layer["score.postings_examined_per_result"] = sum(sdf) / max(results, 1)

    def self_time_layer(self) -> None:
        """Self time per layer and traced operation, and the tracing
        overhead: traced over untraced median operation time, minus 1."""
        roots = [o["span"] for o in self.done_ops() if o["traced"]]
        per_layer = stats.layer_self_times(
            [s for r in roots for s in self.tracer.subtree(r)]
        )
        for layer in ("bench", "index_build", "score", "ingest"):
            self.layer[f"{layer}.self_ms_per_op"] = (
                per_layer.get(layer, 0.0) * 1e3 / len(roots) if roots else 0.0
            )
        traced = [o["ms"] for o in self.done_ops() if o["traced"]]
        plain = self.untraced_ms()
        self.layer["trace.overhead_frac"] = (
            stats.median(traced) / stats.median(plain) - 1.0 if traced and plain else 0.0
        )


def _build(b: Bench, corpus: str):
    from terrier_spark.operators.index_build import build_index

    with b.tracer.span("index_build.build", phase="setup"):
        idx = build_index(b.spark.read.parquet(b.path(corpus)))
        idx.blocks.count()
        idx.lexicon.count()
    return idx


def _stats_of(idx) -> dict:
    return {"num_docs": idx.num_docs, "num_tokens": idx.num_tokens, "n_terms": idx.n_terms}


def _query(b: Bench, idx, text: str, phase: str = "op") -> list[tuple[str, float]]:
    from terrier_spark.operators.score import bm25_topk

    with b.tracer.span("score.query", phase=phase):
        with b.tracer.span("score.call", phase=phase):
            df = bm25_topk(idx, text, TOP_K)
        with b.tracer.span("score.collect", phase=phase):
            rows = df.collect()
    return [(r["doc_id"], float(r["score"])) for r in rows]


class Query:
    """Each operation: one top-10 bm25_topk(...).collect() over a warm,
    cached index of the seeded corpus.  A run measures whole rounds of the
    query mix, so its timed traffic has the mix's composition."""

    def __init__(self, b: Bench):
        self.b = b

    def inputs(self) -> list[tuple[str, int, int]]:
        return [("corpus", self.b.start, N_DOCS)]

    def setup(self, rep: int) -> None:
        if rep:
            self.idx.release()
        self.idx = _build(self.b, "corpus")
        _query(self.b, self.idx, self.b.queries[0]["text"], "setup")

    def step(self) -> dict:
        q = self.b.queries[len(self.b.ops) % len(self.b.queries)]
        return {"queries": [(q, _query(self.b, self.idx, q["text"]))]}

    def measure(self) -> None:
        self.shape = self.b.index_shape(self.idx)
        n = len(inputs.TEMPLATES)
        # Over two rounds, the traced and the untraced operations (T U U T
        # ...) each run every template once, so the overhead compares like
        # with like.
        rounds = 2 if self.b.tracer.enabled else 1
        self.b.loop(self.step, unit=rounds * n, least=rounds * n)

    def verify(self) -> None:
        from terrier_spark import oracle

        b = self.b
        o = b.oracle_of(["corpus"])
        b.corpus_report(o)
        b.check("index stats", checks.stats_mismatch(_stats_of(self.idx), o))
        checked = []
        for i, op in enumerate(b.done_ops()):
            bad = []
            for q, got in op["queries"]:
                why = checks.ranking_mismatch(got, oracle.bm25_topk(o, q["text"], TOP_K))
                if why:
                    bad.append(f"{q['text']!r}: {why}")
                checked.append((q, len(got), o))
            b.check(f"op {i}", "; ".join(bad) or None)
        b.work_report(checked)

    def metrics(self) -> dict:
        e2e = self.b.end_to_end(1)
        e2e["index_bytes_per_source_byte"] = self.shape["posting_bytes"] / self.b.source_bytes
        return e2e

    def layers(self) -> None:
        b = self.b
        b.build_layer(b.spans("index_build.build", "setup")[-1:], self.shape)
        b.score_layer()


class IngestLive:
    """Each operation: one compaction cycle.  A micro-batch goes through
    ingest_batch onto a one-segment live index, maybe_compact merges the
    two segments, and one query runs against open_live_index.  Before each
    operation, outside its time, the live index is put back to the
    set-up's one-segment base, so every cycle does the same work.  The
    set-up ingests the base and runs the same query on it."""

    def __init__(self, b: Bench):
        self.b = b

    def inputs(self) -> list[tuple[str, int, int]]:
        return [
            (f"mb{j:02d}", self.b.start + j * MICRO_BATCH_DOCS, MICRO_BATCH_DOCS)
            for j in range(MICRO_BATCHES)
        ]

    def setup(self, rep: int) -> None:
        from terrier_spark.streaming.ingest import ingest_batch, open_live_index

        b = self.b
        if rep:
            shutil.rmtree(self.base)
        self.base = b.path(f"base{rep}")
        os.makedirs(self.base)
        with b.tracer.span("ingest.batch", phase="setup"):
            ingest_batch(b.spark.read.parquet(b.path("mb00")), 0, self.base)
        with b.tracer.span("ingest.open", phase="setup"):
            base = open_live_index(b.spark, self.base)
        _query(b, base, b.queries[LIVE_QUERY]["text"], "setup")
        self.live = b.path("live")
        self.next_batch = 1
        self.steps: list[dict] = []

    def reset(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.base, self.live)

    def measure(self) -> None:
        self.b.loop(
            self.cycle, before=self.reset,
            exhausted=lambda: self.next_batch >= MICRO_BATCHES,
        )

    def cycle(self) -> dict:
        from terrier_spark.operators.integrity import FINGERPRINT_DIRNAME
        from terrier_spark.streaming.ingest import (
            ingest_batch, maybe_compact, open_live_index,
        )

        b, j = self.b, self.next_batch
        self.next_batch += 1
        t0 = time.perf_counter()
        with b.tracer.span("ingest.batch"):
            n = ingest_batch(b.spark.read.parquet(b.path(f"mb{j:02d}")), j, self.live)
        seg = os.path.join(self.live, f"seg_{j:08d}")
        sidecar = dir_bytes(os.path.join(seg, FINGERPRINT_DIRNAME))
        segment = dir_bytes(seg) - sidecar
        t1 = time.perf_counter()
        with b.tracer.span("ingest.compact") as sp:
            compacted = maybe_compact(b.spark, self.live, max_segments=MAX_SEGMENTS) is not None
            if sp is not None:
                sp["compacted"] = compacted
        t2 = time.perf_counter()
        with b.tracer.span("ingest.open"):
            live = open_live_index(b.spark, self.live)
        t3 = time.perf_counter()
        with open(os.path.join(self.live, "manifest.json")) as f:
            segments = json.load(f)["segments"]
        q = b.queries[LIVE_QUERY]
        got = _query(b, live, q["text"])
        rec = {
            "batch": j, "docs": n, "live_docs": live.num_docs,
            "segments": len(segments), "compacted": compacted,
            "ingest_s": t1 - t0, "compact_s": t2 - t1, "open_s": t3 - t2,
            "query_ms": (time.perf_counter() - t3) * 1e3, "query": (q, got),
            "sidecar_bytes": sidecar, "segment_bytes": segment,
            "compacted_bytes": (
                dir_bytes(os.path.join(self.live, segments[0]["name"])) if compacted else 0
            ),
            "traced": b.tracer.active,
        }
        self.steps.append(rec)
        return rec

    def verify(self) -> None:
        from terrier_spark import oracle
        from terrier_spark.streaming.ingest import open_live_index, verify_live_content

        b = self.b
        last = f"mb{self.steps[-1]['batch']:02d}"
        source = b.spark.read.parquet(b.path("mb00"), b.path(last))
        bad = verify_live_content(b.spark, self.live, source).count()
        b.check("verify_live_content", f"{bad} violations" if bad else None)
        checked = []
        for s in self.steps:
            o = b.oracle_of(["mb00", f"mb{s['batch']:02d}"])
            ok = s["docs"] == MICRO_BATCH_DOCS and s["live_docs"] == o.num_docs
            b.check(f"batch {s['batch']} docs", None if ok else (
                f"ingested {s['docs']}, live {s['live_docs']}, expected {o.num_docs}"
            ))
            q, got = s["query"]
            ties = oracle.bm25_topk(o, q["text"], TOP_K + 20)
            b.check(f"batch {s['batch']} query {q['text']!r}",
                    checks.ranking_mismatch(got, ties[:TOP_K], ties))
            checked.append((q, len(got), o))
        b.corpus_report(o)
        b.work_report(checked)
        b.report["segments_at_query"] = [s["segments"] for s in self.steps]
        b.report["cycles"] = [
            {k: s[k] for k in (
                "batch", "segments", "compacted", "ingest_s", "compact_s", "open_s", "query_ms",
            )}
            for s in self.steps
        ]
        self.shape = b.index_shape(open_live_index(b.spark, self.live))

    def source_bytes(self, batch: int) -> int:
        return dir_bytes(self.b.path(f"mb{batch:02d}"))

    def metrics(self) -> dict:
        e2e = self.b.end_to_end(MICRO_BATCH_DOCS)
        with open(os.path.join(self.live, "manifest.json")) as f:
            live_bytes = sum(
                dir_bytes(os.path.join(self.live, s["name"])) for s in json.load(f)["segments"]
            )
        e2e["index_bytes_per_source_byte"] = live_bytes / (
            self.source_bytes(0) + self.source_bytes(self.steps[-1]["batch"])
        )
        return e2e

    def layers(self) -> None:
        b, L = self.b, self.b.layer
        b.build_layer(b.spans("ingest.batch"), self.shape)
        b.score_layer()
        steps = self.steps
        traced = [s for s in steps if s["traced"]]
        L["ingest.batch_s"] = _med(_dur_ms(s) / 1e3 for s in b.spans("ingest.batch"))
        L["ingest.jobs_per_batch"] = _med(b.tracer.totals(s)["jobs"] for s in b.spans("ingest.batch"))
        L["ingest.segment_bytes"] = _med(s["segment_bytes"] for s in steps)
        L["integrity.sidecar_bytes"] = _med(s["sidecar_bytes"] for s in steps)
        written = sum(s["segment_bytes"] + s["sidecar_bytes"] + s["compacted_bytes"] for s in steps)
        L["ingest.bytes_written_per_source_byte"] = written / sum(
            self.source_bytes(s["batch"]) for s in steps
        )
        L["ingest.compactions"] = float(sum(s["compacted"] for s in steps))
        L["ingest.compact_s"] = _med(
            _dur_ms(s) / 1e3 for s in b.spans("ingest.compact") if s.get("compacted")
        )
        L["ingest.compact_bytes_rewritten"] = _med(
            s["compacted_bytes"] for s in steps if s["compacted"]
        )
        L["ingest.open_s"] = _med(_dur_ms(s) / 1e3 for s in b.spans("ingest.open"))
        L["ingest.segments_at_query"] = sum(s["segments"] for s in steps) / len(steps)
        L["ingest.live_query_ms_per_segment"] = _med(
            s["query_ms"] / s["segments"] for s in traced
        )


WORKLOADS = {
    "query": Query,
    "ingest_live": IngestLive,
}
