"""The benchmark workloads.

Each workload has a parent side (`generate`: seeded inputs plus the
oracle's expectations, cached, run before any timed window) and a child
side that runs inside the measured driver process (`warmup`, `window`,
`traced`). The child side only calls the package's public functions, the
same calls a user of the package would make."""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq

import derive
import gen
import oracle


@dataclass
class Outcome:
    """One attempted operation: an iteration, or one streamed file."""

    ok: bool
    seconds: float | None  # latency; None when the operation raised
    docs: int = 0
    detail: dict = field(default_factory=dict)


@dataclass
class Window:
    """What one timed window produced: every attempted operation, the
    throughput figure and the latency samples behind the freshness
    metrics."""

    outcomes: list[Outcome]
    docs_per_s: float
    latencies: list[float]
    context: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    inputs: gen.Inputs
    cfg: dict
    work: str
    cores: int

    def fresh_dir(self, *parts: str) -> str:
        d = os.path.join(self.work, *parts)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d


def _failed(exc: BaseException) -> Outcome:
    traceback.print_exception(exc)
    return Outcome(False, None, detail={"error": f"{type(exc).__name__}: {exc}"[:500]})


def timed_loop(ctx: Ctx, iterate, seconds: float) -> list[Outcome]:
    """Closed loop: run iterations back to back until `seconds` have
    passed (at least one). An iteration that raises counts as failed and
    the loop goes on."""
    out, t_end = [], time.perf_counter() + seconds
    while True:
        try:
            out.append(iterate(ctx))
        except Exception as exc:  # a failed operation is a result, not a crash
            out.append(_failed(exc))
        if time.perf_counter() >= t_end:
            return out


def median_rate(outcomes: list[Outcome]) -> float:
    rates = [o.docs / o.seconds for o in outcomes if o.seconds]
    return derive.median(rates) if rates else 0.0


# ---------------------------------------------------------------- live stream


class LiveStream:
    """A running pipeline query (start_pipeline_stream with a processing-
    time trigger) over its own watched directory, warmed by one batch of
    warm-up files before anything is timed. `meanwhile` runs while that
    warm-up batch is in flight, so other warm-up work overlaps it."""

    def __init__(self, ctx: Ctx, tag: str, meanwhile=lambda: None):
        from bocadillo_spark.streaming.stream import start_pipeline_stream

        cfg, meta = ctx.cfg, ctx.inputs.meta
        d = ctx.fresh_dir(tag)
        self.staging, self.watched = os.path.join(d, "staging"), os.path.join(d, "watched")
        self.out, self.ckpt = os.path.join(d, "out"), os.path.join(d, "ckpt")
        os.makedirs(self.staging)
        os.makedirs(self.watched)
        self.names = sorted(meta["stream_expected"])
        self.warm = sorted(meta["warmup_expected"])
        for name in self.names:
            shutil.copyfile(ctx.inputs.path("stream", name), os.path.join(self.staging, name))
        for name in self.warm:
            shutil.copyfile(ctx.inputs.path("stream", name), os.path.join(self.watched, name))
        self.drain_timeout = cfg["drain_timeout_s"]
        self.q = start_pipeline_stream(
            ctx.spark, self.watched, self.out, self.ckpt,
            max_files_per_trigger=cfg["max_files_per_trigger"],
            processing_time=cfg["processing_time"],
        )
        try:
            meanwhile()
            if not self.wait_committed(self.warm, 120):
                raise RuntimeError(f"warm-up batch did not commit: {self.q.exception()}")
        except BaseException:
            self.q.stop()
            raise

    def wait_committed(self, names: list[str], timeout: float) -> bool:
        src_log, commits = os.path.join(self.ckpt, "sources", "0"), os.path.join(self.ckpt, "commits")

        def done() -> bool:
            batch_of, committed = derive.file_batches(src_log), derive.commit_times(commits)
            return all(batch_of.get(n) in committed for n in names) or self.q.exception() is not None

        return _wait(done, timeout) and self.q.exception() is None

    def drive(self, seconds: float) -> dict:
        """Drop the timed files on the open-loop schedule, wait until every
        file's batch has committed (or the deadline), stop the query and
        return the raw observations; nothing here is derived yet."""
        dropper = gen.FileDropper(self.staging, self.watched, self.names, len(self.names) / seconds)
        try:
            dropper.start()
            dropper.join(timeout=seconds + 30)
            self.wait_committed(self.names, self.drain_timeout)
            error = self.q.exception()
        finally:
            dropper.stop()
            self.q.stop()
        return {
            "names": self.names,
            "visible": dict(dropper.visible),
            "late_s": list(dropper.late_s),
            "batch_of": derive.file_batches(os.path.join(self.ckpt, "sources", "0")),
            "committed": derive.commit_times(os.path.join(self.ckpt, "commits")),
            "progress": [json.loads(p.json) for p in self.q.recentProgress],
            "out": self.out,
            "error": None if error is None else str(error)[:500],
        }


# -------------------------------------------------------------- counts_fanout


class CountsFanout:
    """The pages -> native parse -> broadcast route flagship, used two ways
    in one driver process: open-loop file arrivals into the live fan-out
    stream (every column shuffled, written, manifested and checkpointed
    per micro-batch), then a closed loop of per-sink counts over a
    many-file table (nothing written)."""

    name = "counts_fanout"

    @staticmethod
    def n_files(cfg: dict, seconds: int) -> int:
        return int(round(cfg["rate_files_per_s"] * seconds * (1 - cfg["counts_share"])))

    @staticmethod
    def generate(root: str, seed: int, cfg: dict, seconds: int) -> dict:
        """Counts pages, timed stream files and warm-up stream files come
        from disjoint doc_id ranges."""
        n_files, per_file = CountsFanout.n_files(cfg, seconds), cfg["pages_per_file"]
        n_counts = cfg["base_docs"] * cfg["replicas"]
        n_stream = (n_files + cfg["warmup_files"]) * per_file
        docs = gen.replicated_pages(seed, cfg["base_docs"], cfg["replicas"] - (-n_stream // cfg["base_docs"]))
        counts = docs.iloc[:n_counts]
        timed = docs.iloc[n_counts: n_counts + n_files * per_file]
        warm = docs.iloc[n_counts + len(timed): n_counts + n_stream]
        gen.write_page_files(counts, os.path.join(root, "pages"), cfg["files"])

        def expected(files: dict) -> dict:
            return {n: oracle.counts_to_json(oracle.sink_counts(d["doc_id"], d["lang"]))
                    for n, d in files.items()}

        stream_dir = os.path.join(root, "stream")
        return {
            "pages": len(counts),
            "expected": oracle.counts_to_json(oracle.sink_counts(counts["doc_id"], counts["lang"])),
            "stream_expected": expected(gen.write_page_files(timed, stream_dir, n_files)),
            "warmup_expected": expected(
                gen.write_page_files(warm, stream_dir, cfg["warmup_files"], prefix="warm")),
        }

    # ---- counts phase

    @staticmethod
    def counts(spark, path: str) -> list:
        from bocadillo_spark.operators.aggregate import sink_counts
        from bocadillo_spark.operators.parse import parse_events, with_host
        from bocadillo_spark.operators.route import build_routing_dim, route
        from bocadillo_spark.sources.pages import read_pages

        routed = route(parse_events(with_host(read_pages(spark, path))), build_routing_dim(spark))
        return sink_counts(routed).collect()

    def iterate(self, ctx: Ctx) -> Outcome:
        t0 = time.perf_counter()
        rows = self.counts(ctx.spark, ctx.inputs.path("pages"))
        dt = time.perf_counter() - t0
        got = oracle.counts_from_json((r["sink_id"], r["event_type"], r["n"]) for r in rows)
        ok = got == oracle.counts_from_json(ctx.inputs.meta["expected"])
        return Outcome(ok, dt, ctx.inputs.meta["pages"])

    # ---- stream phase

    def check_stream(self, ctx: Ctx, run: dict) -> tuple[list[Outcome], dict]:
        """Per-file outcomes: a file is correct when its batch committed by
        the deadline, that batch's manifest equals the oracle over the
        batch's files, the read-back per-sink counts of the whole output
        equal both the manifests and the oracle, and every written
        text_bytes is byte-identical to text_bytes_of for its url."""
        from collections import Counter

        from bocadillo_spark.plans.sinks import read_manifests, read_sink_counts

        meta = ctx.inputs.meta
        expected = {n: oracle.counts_from_json(c)
                    for n, c in {**meta["stream_expected"], **meta["warmup_expected"]}.items()}
        lat, missing = derive.freshness(run["visible"], run["batch_of"], run["committed"])
        committed = [n for n, b in run["batch_of"].items() if b in run["committed"]]
        by_batch: dict[int, list[str]] = {}
        for n in committed:
            by_batch.setdefault(run["batch_of"][n], []).append(n)
        manifests = {m["batch_id"]: m for m in read_manifests(run["out"])}
        batch_ok, manifest_total = {}, Counter()
        for b, files in by_batch.items():
            want = sum((expected[n] for n in files), Counter())
            m = manifests.get(b, {"sink_counts": {}})
            got = Counter({tuple(k.split("/", 1)): v for k, v in m["sink_counts"].items()})
            manifest_total += got
            batch_ok[b] = got == want
        oracle_total = sum((expected[n] for n in committed), Counter())
        readback, text_ok = Counter(), False
        if committed:
            readback = Counter({
                (r["sink_id"], r["event_type"]): r["n"]
                for r in read_sink_counts(ctx.spark, run["out"]).collect()
            })
            text_ok = self.text_bytes_match(ctx, run["out"], sorted(committed))
        totals_ok = readback == manifest_total == oracle_total
        outcomes = [
            Outcome(totals_ok and text_ok and batch_ok[run["batch_of"][n]], lat[n],
                    sum(expected[n].values()))
            for n in sorted(lat)
        ] + [Outcome(False, None, detail={"file": n, "error": "no commit"}) for n in missing]
        return outcomes, {
            "files_missing": len(missing),
            "batches_bad": sorted(b for b, ok in batch_ok.items() if not ok),
            "sink_totals_agree": totals_ok,
            "text_bytes_identical": text_ok,
        }

    def text_bytes_match(self, ctx: Ctx, out: str, names: list[str]) -> bool:
        """Read back with pyarrow rather than Spark: the check then adds no
        jobs, and its cost stays small next to the window's."""
        import pyarrow.dataset as ds

        pages = pd.concat(
            [pq.read_table(ctx.inputs.path("stream", n), columns=["url", "text"]).to_pandas()
             for n in names],
            ignore_index=True,
        )
        want = oracle.text_bytes_by_url(pages)
        rows = ds.dataset(os.path.join(out, "data"), format="parquet", partitioning="hive").to_table(
            columns=["url", "text_bytes"],
            filter=(ds.field("seq") == 0) & (ds.field("parse_status") == "ok"),
        ).to_pylist()
        got = {r["url"]: r["text_bytes"] for r in rows}
        return len(rows) == len(got) and got == want

    @staticmethod
    def timed_batches(run: dict) -> list[dict]:
        """Progress of the batches that took timed files (not the warm-up)."""
        ids = {run["batch_of"][n] for n in run["visible"] if n in run["batch_of"]}
        return [p for p in run["progress"] if p["batchId"] in ids]

    @staticmethod
    def stream_capacity(run: dict) -> float:
        """Input rows over the time the engine spent in the timed batches."""
        busy = CountsFanout.timed_batches(run)
        secs = sum(p["durationMs"].get("triggerExecution", 0) for p in busy) / 1000
        return sum(p["numInputRows"] for p in busy) / secs if secs else 0.0

    # ---- the workload

    def phase_seconds(self, ctx: Ctx, seconds: float) -> tuple[float, float]:
        share = ctx.cfg["counts_share"]
        return seconds * share, seconds * (1 - share)

    def warmup(self, ctx: Ctx) -> None:
        def counts_warmup():
            for _ in range(ctx.cfg["warmup_iterations"]):
                self.counts(ctx.spark, ctx.inputs.path("pages"))

        self.live = LiveStream(ctx, "stream", meanwhile=counts_warmup)

    def window(self, ctx: Ctx, seconds: float) -> Window:
        # The stream goes first: its batches run the same parse, so the
        # counts loop after it starts from a warmer JIT than right after
        # set-up, and its iterations drift less.
        counts_s, stream_s = self.phase_seconds(ctx, seconds)
        t0 = time.perf_counter()
        run = self.live.drive(stream_s)
        t1 = time.perf_counter()
        files, checks = self.check_stream(ctx, run)
        checks["run_s"], checks["check_s"] = t1 - t0, time.perf_counter() - t1
        counts = timed_loop(ctx, self.iterate, counts_s)
        late = run["late_s"]
        return Window(
            counts + files,
            median_rate(counts),
            [o.seconds for o in files if o.seconds is not None],
            {
                "counts_iterations_s": [o.seconds for o in counts],
                "stream_checks": checks,
                "stream_error": run["error"],
                "stream_files": len(run["names"]),
                "stream_rate_files_per_s": len(run["names"]) / stream_s,
                "stream_capacity_docs_per_s": self.stream_capacity(run),
                "stream_batches": [[p["batchId"], p["numInputRows"], p["durationMs"].get("triggerExecution", 0)]
                                   for p in self.timed_batches(run)],
                "dropper_late_s_max": max(late) if late else None,
            },
        )

    def traced(self, ctx: Ctx, tracer, seconds: float) -> dict:
        import layers

        return layers.counts_fanout_layers(ctx, tracer, self, self.phase_seconds(ctx, seconds)[1])


def _wait(cond, timeout: float, poll: float = 0.1) -> bool:
    t_end = time.time() + timeout
    while time.time() < t_end:
        if cond():
            return True
        time.sleep(poll)
    return cond()


# --------------------------------------------------------------- curate_dedup


class CurateDedup:
    """MinHash pair dedup, chunk-level fuzzy clusters and the curation
    export, in sequence, over a few-file word-suffix replica corpus."""

    name = "curate_dedup"
    TIMES = {"pairs": "minhash_s", "clusters": "fuzzy_s", "shards": "curate_s"}

    @staticmethod
    def generate(root: str, seed: int, cfg: dict, seconds: int) -> dict:
        import pyarrow as pa

        corpus, plants = gen.curation_corpus(seed, cfg["base_docs"], cfg["replicas"])
        os.makedirs(os.path.join(root, "corpus"))
        for i in range(cfg["files"]):
            pq.write_table(
                pa.Table.from_pandas(corpus.iloc[i::cfg["files"]], preserve_index=False),
                os.path.join(root, "corpus", f"part-{i:05d}.parquet"),
            )
        text = dict(zip(corpus["doc_id"], corpus["text"]))
        return {
            "docs": len(corpus),
            "planted": oracle.planted_pairs(text, plants),
            "shard_stats": oracle.curation_stats(os.path.join(root, "corpus", "*.parquet")),
        }

    def load_texts(self, ctx: Ctx) -> dict:
        if not hasattr(self, "_text"):
            df = pd.concat(
                [pq.read_table(p, columns=["doc_id", "text"]).to_pandas()
                 for p in sorted(glob.glob(ctx.inputs.path("corpus", "*.parquet")))]
            )
            self._text = dict(zip(df["doc_id"], df["text"]))
        return self._text

    @staticmethod
    def calls(spark, path: str, out_dir: str) -> dict:
        """The workload's three calls by the name of their output; each
        returns its raw output."""
        from bocadillo_spark.operators.dedup import (
            augment_with_fuzzy_footers,
            chunk_fuzzy_clusters,
            minhash_dedup_pairs,
        )
        from bocadillo_spark.plans.curation import curate_corpus
        from bocadillo_spark.plans.export import write_training_shards

        docs = spark.read.parquet(path)
        return {
            "pairs": lambda: [tuple(r) for r in minhash_dedup_pairs(docs).collect()],
            "clusters": lambda: chunk_fuzzy_clusters(augment_with_fuzzy_footers(docs)).toPandas(),
            "shards": lambda: write_training_shards(curate_corpus(docs), out_dir),
        }

    @staticmethod
    def run_once(spark, path: str, out_dir: str) -> dict:
        """The three calls in sequence; returns their raw outputs and
        per-call wall times."""
        res, t0 = {}, time.perf_counter()
        for name, call in CurateDedup.calls(spark, path, out_dir).items():
            t = time.perf_counter()
            res[name] = call()
            res[CurateDedup.TIMES[name]] = time.perf_counter() - t
        res["seconds"] = time.perf_counter() - t0
        return res

    def check(self, ctx: Ctx, res: dict, out_dir: str) -> tuple[bool, dict]:
        from bocadillo_spark.operators.dedup import FUZZY_SKIP_MOD
        from bocadillo_spark.plans.export import read_shard_stats

        planted = [tuple(p) for p in ctx.inputs.meta["planted"]]
        pairs = oracle.check_pairs(res["pairs"], self.load_texts(ctx), planted)
        footer = oracle.check_footer_clusters(res["clusters"], FUZZY_SKIP_MOD)
        stats = sorted([int(s), int(n), int(t)] for s, n, t in read_shard_stats(ctx.spark, out_dir).collect())
        shards_ok = stats == ctx.inputs.meta["shard_stats"]
        return pairs["ok"] and footer["ok"] and shards_ok, {
            "pairs": pairs, "footer": footer, "shards_ok": shards_ok,
            "survivors": sum(n for _, n, _ in stats),
        }

    def warmup(self, ctx: Ctx) -> None:
        """One cold run of each call, the three side by side: that fills the
        JIT and codegen caches and starts the Python workers in less time
        than a cold pass in sequence. The timed passes run them in
        sequence."""
        from concurrent.futures import ThreadPoolExecutor

        from bocadillo_spark.operators.dedup import persist_drain

        calls = self.calls(ctx.spark, ctx.inputs.path("corpus"), ctx.fresh_dir("export"))
        try:
            with ThreadPoolExecutor(len(calls)) as pool:
                for f in [pool.submit(c) for c in calls.values()]:
                    f.result()
        finally:
            persist_drain()

    def iterate(self, ctx: Ctx) -> Outcome:
        from bocadillo_spark.operators.dedup import persist_drain

        out_dir = ctx.fresh_dir("export")
        try:
            res = self.run_once(ctx.spark, ctx.inputs.path("corpus"), out_dir)
            ok, detail = self.check(ctx, res, out_dir)
        finally:
            persist_drain()
        detail.update({k: res[k] for k in ("minhash_s", "fuzzy_s", "curate_s")})
        return Outcome(ok, res["seconds"], ctx.inputs.meta["docs"], detail)

    def window(self, ctx: Ctx, seconds: float) -> Window:
        self.load_texts(ctx)
        outcomes = timed_loop(ctx, self.iterate, seconds)
        return Window(outcomes, median_rate(outcomes),
                      [o.seconds for o in outcomes if o.seconds is not None],
                      {"iterations": [o.detail for o in outcomes]})

    def traced(self, ctx: Ctx, tracer, seconds: float) -> dict:
        import layers

        return layers.curate_dedup_layers(ctx, tracer, self)


WORKLOADS = {w.name: w for w in (CountsFanout, CurateDedup)}
