"""The traced run: per-layer metrics, attributed from outside the package.

Spans are recorded around the benchmark's own calls into each layer's
public functions; nothing inside the package is changed. Spark fuses
parse, route and the partial aggregate into one stage, so a span around a
lazy call measures nothing: the batch workloads instead execute successive
prefixes of the plan (scan, +parse, +route, each into the `noop` sink,
then the full action), each prefix its own span and job group, and a
layer's self time is the difference between successive prefixes.

Task time, CPU, shuffle, spill and stage parallelism come from Spark's
status store (it works with the UI disabled), joined to spans by job group
or, for the streaming spans that run on Spark's own stream thread, by job
submission time. Counts that exist only inside one plan are read from the
SQL status store's plan graphs."""

from __future__ import annotations

import os
import re
import time
import uuid
from contextlib import contextmanager

import derive

TASK_KEYS = ("task_s", "cpu_s", "shuffle_write_bytes", "spill_bytes", "underfilled_s")


class Tracer:
    """In-memory spans (name, start, end, parent, run id), each with its own
    job group unless it runs where the group cannot be set."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stages: dict[int, dict] = {}

    @contextmanager
    def span(self, name: str, parent: dict | None = None, group: bool = True, **attrs):
        rec = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": None if parent is None else parent["id"],
            "group": f"perfbench-{self.run_id}-{len(self.spans)}" if group else None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        if group:
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def add(self, name: str, start: float, end: float, parent: dict | None, **attrs) -> dict:
        """A span whose interval was observed elsewhere (a streaming batch)."""
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": None if parent is None else parent["id"], "group": None,
               "attrs": attrs, "start": start, "end": end, "wall_s": end - start}
        self.spans.append(rec)
        return rec

    # ------------------------------------------------------- status store

    def _seq(self, x) -> list:
        return list(self.sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(x))

    def jobs(self) -> list[dict]:
        store = self.sc._jsc.sc().statusStore()
        out = []
        for j in self._seq(store.jobsList(None)):
            g, sub = j.jobGroup(), j.submissionTime()
            out.append({
                "job": j.jobId(),
                "group": g.get() if g.isDefined() else None,
                "submitted": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "stages": [int(s) for s in self._seq(j.stageIds())],
            })
        return out

    def stage(self, stage_id: int) -> dict:
        """A finished stage's totals (read once; callers read after the
        spans that ran it have ended)."""
        if stage_id not in self._stages:
            self._stages[stage_id] = self._read_stage(stage_id)
        return self._stages[stage_id]

    def _read_stage(self, stage_id: int) -> dict:
        s = self.sc._jsc.sc().statusStore().lastStageAttempt(stage_id)
        sub, done = s.submissionTime(), s.completionTime()
        wall = (done.get().getTime() - sub.get().getTime()) / 1000 if sub.isDefined() and done.isDefined() else 0.0
        return {
            "status": s.status().toString(), "tasks": s.numTasks(), "wall_s": wall,
            "task_s": s.executorRunTime() / 1000, "cpu_s": s.executorCpuTime() / 1e9,
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "input_records": s.inputRecords(), "input_bytes": s.inputBytes(),
        }

    def span_jobs(self, span: dict, jobs: list[dict]) -> list[dict]:
        if span["group"] is not None:
            return [j for j in jobs if j["group"] == span["group"]]
        return [j for j in jobs
                if j["submitted"] is not None and span["start"] - 0.002 <= j["submitted"] <= span["end"]]

    def task_metrics(self, job_list: list[dict], cores: int) -> dict:
        """Sum over the distinct stages that ran for these jobs; a stage
        with fewer tasks than cores adds its wall time to underfilled_s."""
        out = dict.fromkeys(TASK_KEYS + ("input_records", "input_bytes", "stages"), 0.0)
        seen = set()
        for j in job_list:
            for sid in j["stages"]:
                if sid in seen:
                    continue
                seen.add(sid)
                s = self.stage(sid)
                if s["status"] == "SKIPPED":
                    continue
                out["stages"] += 1
                for k in TASK_KEYS[:-1] + ("input_records", "input_bytes"):
                    out[k] += s[k]
                if s["tasks"] < cores:
                    out["underfilled_s"] += s["wall_s"]
        return out

    def plan_nodes(self, job_list: list[dict]) -> list[dict]:
        """Plan-graph nodes (name, desc, metric strings) of every SQL
        execution that ran one of these jobs."""
        ids = {j["job"] for j in job_list}
        sql = self.spark._jsparkSession.sharedState().statusStore()
        out = []
        for e in self._seq(sql.executionsList()):
            if not ids & {int(k) for k in self._seq(e.jobs().keySet())}:
                continue
            vals = sql.executionMetrics(e.executionId())
            for n in self._seq(sql.planGraph(e.executionId()).allNodes()):
                ms = {}
                for m in self._seq(n.metrics()):
                    v = vals.get(m.accumulatorId())
                    if v.isDefined():
                        ms[m.name()] = v.get()
                out.append({"execution": e.executionId(), "name": n.name(),
                            "desc": n.desc(), "metrics": ms})
        return out


_UNITS = {"": 1, "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-9, "ms": 1e-3, "s": 1, "m": 60, "h": 3600}


def metric_value(text: str) -> float:
    """A SQL metric's display string as a number (bytes, seconds or a
    count): the total, i.e. the first figure of the last line."""
    lines = text.strip().splitlines()
    m = lines and re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", lines[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def node_sum(nodes: list[dict], metric: str, name: str | None = None, desc: str | None = None) -> float:
    return sum(
        metric_value(n["metrics"][metric])
        for n in nodes
        if metric in n["metrics"]
        and (name is None or n["name"] == name)
        and (desc is None or re.search(desc, n["desc"]))
    )


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------------ counts


def counts_layers(ctx, tracer: Tracer, workload) -> dict:
    """One prefix pass over the full counts input: scan, +parse, +route
    (each into the noop sink), then the full counts action."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from bocadillo_spark.operators.parse import parse_events, with_host
    from bocadillo_spark.operators.route import build_routing_dim, route
    from bocadillo_spark.sources.pages import read_pages

    import oracle

    spark, path = ctx.spark, ctx.inputs.path("pages")
    expected = oracle.counts_from_json(ctx.inputs.meta["expected"])

    def flag(col, value):
        return F.sum(F.when(F.col(col) == value, 1).otherwise(0))

    # each prefix keeps only the columns the full counts plan reads from it,
    # so column pruning treats a prefix as it treats that part of the plan
    def scanned():
        return read_pages(spark, path).select("url", "warc_ts", "html", "lang")

    def parsed():
        return parse_events(with_host(scanned())).select("lang", "host", "event_type", "parse_status")

    obs_p, obs_r = Observation("parse"), Observation("route")
    with tracer.span("counts.pass") as root:
        with tracer.span("sources.pages", root) as s_scan:
            noop(scanned())
        with tracer.span("operators.parse", root) as s_parse:
            noop(parsed().observe(obs_p, F.count(F.lit(1)).alias("rows"),
                                  flag("parse_status", "error").alias("errors")))
        with tracer.span("operators.route", root) as s_route:
            routed = route(parsed(), build_routing_dim(spark)).select(
                "sink_id", "event_type", "route_reason")
            noop(routed.observe(
                obs_r, F.count(F.lit(1)).alias("rows"), flag("route_reason", "ok").alias("ok"),
                flag("route_reason", "unmatched_dim").alias("unmatched")))
        with tracer.span("operators.aggregate", root) as s_agg:
            rows = workload.counts(spark, path)
    got = oracle.counts_from_json((r["sink_id"], r["event_type"], r["n"]) for r in rows)

    jobs = tracer.jobs()
    layer_names = ("sources.pages", "operators.parse", "operators.route", "operators.aggregate")
    spans = (s_scan, s_parse, s_route, s_agg)
    task = [tracer.task_metrics(tracer.span_jobs(sp, jobs), ctx.cores) for sp in spans]
    out = {}
    for k in ("wall_s",) + TASK_KEYS:
        totals = [(n, sp["wall_s"] if k == "wall_s" else tm[k]) for n, sp, tm in zip(layer_names, spans, task)]
        for n, v in derive.prefix_self(totals).items():
            out[f"{n}.{'self_s' if k == 'wall_s' else k}"] = v
    rows_in = task[0]["input_records"]
    parse, routed = obs_p.get, obs_r.get
    out["sources.pages.scan_s"] = out.pop("sources.pages.self_s")
    out.update({
        "sources.pages.rows_in": rows_in,
        "sources.pages.bytes_in": node_sum(tracer.plan_nodes(tracer.span_jobs(s_scan, jobs)),
                                           "size of files read"),
        "operators.parse.rows_out": parse["rows"],
        "operators.parse.parse_error_rows": parse["errors"],
        "operators.parse.ok_ratio": (rows_in - parse["errors"]) / rows_in if rows_in else 0.0,
        "operators.route.unmatched_rows": routed["unmatched"],
        "operators.route.ok_ratio": routed["ok"] / routed["rows"] if routed["rows"] else 0.0,
        "operators.aggregate.groups_out": len(rows),
    })
    overhead = {"traced_docs_per_s": ctx.inputs.meta["pages"] / s_agg["wall_s"]}
    return {"metrics": out, "outcomes": [got == expected], "overhead": overhead}


# ------------------------------------------------------------------ stream


def _progress_start(p: dict) -> float:
    from datetime import datetime

    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def stream_layers(ctx, tracer: Tracer, workload, seconds: float) -> dict:
    """A second live stream with plans.sinks.write_fanout wrapped by
    attribute (the only change, and only in this run); the streaming
    numbers come from the query's recentProgress and its checkpoint."""
    import bocadillo_spark.streaming.stream as stream_mod

    from workloads import LiveStream

    live = LiveStream(ctx, "stream_traced")
    original = stream_mod.write_fanout
    with tracer.span("stream.query", group=False) as root:

        def traced_write_fanout(routed, out_dir, batch_id=0):
            with tracer.span("plans.sinks", root, group=False, batch_id=batch_id):
                return original(routed, out_dir, batch_id=batch_id)

        stream_mod.write_fanout = traced_write_fanout
        try:
            run = live.drive(seconds)
        finally:
            stream_mod.write_fanout = original
    outcomes, checks = workload.check_stream(ctx, run)

    busy = workload.timed_batches(run)
    batch_start = {p["batchId"]: _progress_start(p) for p in busy}
    for p in busy:
        start = batch_start[p["batchId"]]
        tracer.add("streaming.stream.batch", start, start + p["durationMs"]["triggerExecution"] / 1000,
                   root, batch_id=p["batchId"], rows=p["numInputRows"])
    jobs = tracer.jobs()
    writes = [s for s in tracer.spans if s["name"] == "plans.sinks"]
    write_jobs = [j for s in writes for j in tracer.span_jobs(s, jobs)]
    query_jobs = tracer.span_jobs(root, jobs)
    sinks = tracer.task_metrics(write_jobs, ctx.cores)
    whole = tracer.task_metrics(query_jobs, ctx.cores)

    from bocadillo_spark.plans.sinks import read_manifests

    files = [f["n"] for m in read_manifests(run["out"]) for f in m["files"]]
    data_bytes = sum(os.path.getsize(os.path.join(dp, f))
                     for dp, _, fs in os.walk(os.path.join(run["out"], "data"))
                     for f in fs if f.endswith(".parquet"))
    dur = [p["durationMs"] for p in busy]
    queue_wait = [batch_start[run["batch_of"][n]] - t for n, t in run["visible"].items()
                  if run["batch_of"].get(n) in batch_start]

    def p50(xs):
        return derive.median(xs) if xs else 0.0

    out = {
        "plans.sinks.write_s": sum(s["wall_s"] for s in writes),
        "plans.sinks.files_written": len(files),
        "plans.sinks.bytes_written": data_bytes,
        "plans.sinks.file_rows_skew": max(files) / (sum(files) / len(files)) if files else 0.0,
        "streaming.stream.batches": len(busy),
        "streaming.stream.batch_s_p50": p50([d["triggerExecution"] / 1000 for d in dur]),
        "streaming.stream.commit_s_p50": p50([(d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000 for d in dur]),
        "streaming.stream.plan_s_p50": p50([d.get("queryPlanning", 0) / 1000 for d in dur]),
        "streaming.stream.queue_wait_s_p50": p50(queue_wait),
        "streaming.stream.backlog_files_max": derive.backlog_max(run["visible"], run["batch_of"], batch_start),
    }
    for k in TASK_KEYS:
        out[f"plans.sinks.{k}"] = sinks[k]
        out[f"streaming.stream.{k}"] = whole[k] - sinks[k]
    lat, _ = derive.freshness(run["visible"], run["batch_of"], run["committed"])
    overhead = {"traced_freshness_p50_s": p50(list(lat.values()))}
    return {"metrics": out, "outcomes": [o.ok for o in outcomes], "overhead": overhead,
            "checks": checks, "jobs": jobs}


def counts_fanout_layers(ctx, tracer: Tracer, workload, stream_seconds: float) -> dict:
    counts = counts_layers(ctx, tracer, workload)
    stream = stream_layers(ctx, tracer, workload, stream_seconds)
    return {
        "metrics": {**counts["metrics"], **stream["metrics"]},
        "outcomes": counts["outcomes"] + stream["outcomes"],
        "overhead": {**counts["overhead"], **stream["overhead"]},
        "jobs": stream["jobs"],
        "checks": stream["checks"],
    }


# ------------------------------------------------------------ curate_dedup


def curate_dedup_layers(ctx, tracer: Tracer, workload) -> dict:
    """One traced pass of the three calls; the curation export is split by
    a prefix (curate_corpus into the noop sink, then the full export)."""
    from bocadillo_spark.operators.dedup import (
        augment_with_fuzzy_footers,
        chunk_fuzzy_clusters,
        minhash_dedup_pairs,
        persist_drain,
    )
    from bocadillo_spark.plans.curation import curate_corpus
    from bocadillo_spark.plans.export import write_training_shards

    spark = ctx.spark
    docs = spark.read.parquet(ctx.inputs.path("corpus"))
    out_dir = ctx.fresh_dir("export_traced")
    with tracer.span("curate_dedup.pass") as root:
        with tracer.span("operators.dedup.minhash", root) as s_mh:
            pairs = [tuple(r) for r in minhash_dedup_pairs(docs).collect()]
        persist_drain()
        with tracer.span("operators.dedup.fuzzy", root) as s_fz:
            clusters = chunk_fuzzy_clusters(augment_with_fuzzy_footers(docs)).toPandas()
        persist_drain()
        with tracer.span("plans.curation", root) as s_cur:
            noop(curate_corpus(docs))
        persist_drain()
        with tracer.span("plans.export", root) as s_exp:
            shards = write_training_shards(curate_corpus(docs), out_dir)
        persist_drain()
    ok, detail = workload.check(ctx, {"pairs": pairs, "clusters": clusters, "shards": shards}, out_dir)

    jobs = tracer.jobs()
    dedup_jobs = tracer.span_jobs(s_mh, jobs) + tracer.span_jobs(s_fz, jobs)
    dd = tracer.task_metrics(dedup_jobs, ctx.cores)
    cur = tracer.task_metrics(tracer.span_jobs(s_cur, jobs), ctx.cores)
    exp = tracer.task_metrics(tracer.span_jobs(s_exp, jobs), ctx.cores)
    mh_nodes = tracer.plan_nodes(tracer.span_jobs(s_mh, jobs))
    dd_nodes = mh_nodes + tracer.plan_nodes(tracer.span_jobs(s_fz, jobs))
    candidates = node_sum(mh_nodes, "number of output rows", "ArrowEvalPython", r"\bjac\(")
    edges = [metric_value(n["metrics"]["number of output rows"]) for n in dd_nodes
             if "Join" in n["name"] and re.search(r"NOT \(iid#\d+L? = rep#", n["desc"])
             and "number of output rows" in n["metrics"]]
    written = sum(os.path.getsize(os.path.join(dp, f))
                  for dp, _, fs in os.walk(out_dir) for f in fs if not f.startswith((".", "_")))
    n_docs = ctx.inputs.meta["docs"]
    out = {
        "operators.dedup.minhash_s": s_mh["wall_s"],
        "operators.dedup.fuzzy_s": s_fz["wall_s"],
        "operators.dedup.candidate_pairs": candidates,
        "operators.dedup.verified_pairs": len(pairs),
        "operators.dedup.pair_yield": len(pairs) / candidates if candidates else 0.0,
        "operators.dedup.cc_edges": max(edges) if edges else 0.0,
        "operators.dedup.udf_total_s": node_sum(dd_nodes, "time to run Python workers", "ArrowEvalPython"),
        "operators.dedup.udf_bytes_sent": node_sum(dd_nodes, "data sent to Python workers", "ArrowEvalPython"),
        "plans.curation.self_s": s_cur["wall_s"],
        "plans.curation.survivors": detail["survivors"],
        "plans.curation.survival_ratio": detail["survivors"] / n_docs,
        "plans.export.self_s": s_exp["wall_s"] - s_cur["wall_s"],
        "plans.export.shards": shards,
        "plans.export.bytes_written": written,
    }
    for k in TASK_KEYS:
        out[f"operators.dedup.{k}"] = dd[k]
        out[f"plans.curation.{k}"] = cur[k]
        out[f"plans.export.{k}"] = exp[k] - cur[k]
    unmeasured = {} if edges else {"operators.dedup.cc_edges": "star-edge join not found in the plan graphs"}
    overhead = {"traced_docs_per_s": n_docs / (s_mh["wall_s"] + s_fz["wall_s"] + s_exp["wall_s"])}
    return {"metrics": out, "outcomes": [ok], "overhead": overhead, "jobs": jobs,
            "unmeasured": unmeasured, "checks": detail}


# -------------------------------------------------------------- the run


LAYER_OF_WORKLOAD = {
    "counts_fanout": ("sources.pages", "operators.parse", "operators.route", "operators.aggregate",
                      "plans.sinks", "streaming.stream"),
    "curate_dedup": ("operators.dedup", "plans.curation", "plans.export"),
}


def traced_run(ctx, workload, seconds: float, bench: dict) -> dict:
    """Untraced window first (the base for the tracing overhead), then the
    traced pass. Every per-layer metric of BENCHMARK.json is reported; a
    layer the workload does not run reads 0 and is named in the record."""
    untraced = workload.window(ctx, seconds)
    tracer = Tracer(ctx.spark)
    t0 = time.perf_counter()
    res = workload.traced(ctx, tracer, seconds)
    traced_s = time.perf_counter() - t0
    lat = untraced.latencies
    overhead = {**res["overhead"], "untraced_docs_per_s": untraced.docs_per_s,
                "untraced_freshness_p50_s": derive.median(lat) if lat else 0.0}

    names = [m["name"] for m in bench["per_layer"]]
    ran = LAYER_OF_WORKLOAD[workload.name]
    unmeasured = dict(res.get("unmeasured", {}))
    metrics = {}
    for n in names:
        if n in res["metrics"]:
            metrics[n] = float(res["metrics"][n])
        else:
            metrics[n] = 0.0
            if n not in unmeasured:
                layer = n.rsplit(".", 1)[0]
                unmeasured[n] = ("bypassed: this workload does not run the layer"
                                 if layer not in ran else "not read in this workload")
    outcomes = [o.ok for o in untraced.outcomes] + list(res["outcomes"])
    attempted, failed = derive.count_failed(outcomes)
    return {
        "metrics": metrics,
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "context": {"tracing_overhead": overhead, "traced_s": traced_s,
                    "spans_s": sum(sp["wall_s"] for sp in tracer.spans if sp["parent"] is None)},
        "record": {
            "run_id": tracer.run_id,
            "spans": tracer.spans,
            "jobs": res["jobs"],
            "unmeasured": dict(sorted(unmeasured.items())),
            "checks": res.get("checks"),
        },
    }

