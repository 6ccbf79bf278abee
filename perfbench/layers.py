"""Per-layer metrics from a traced pass: spans plus labelled Spark jobs.

Job groups read ``<tag>|<op>|<order>|<caller>|<kind>`` for a job started
by a wrapped action and ``<tag>|<op>|000|op`` for one started by anything
else inside the op (see ``tracer.Tracer``). Times named ``*_s`` are the
median over the pass's ops (crawl rounds or queries); counts and bytes are
totals over the pass unless named per op.

Within ``crawlspark.crawl.run_round`` the program issues its actions in a
fixed order: the pop/denied ``collect`` (scheduler), then the fetch and
extract materialization (one ``count``, or a corpus ``parquet`` write and a
``count`` with ``emit_text``), then the ``new_rows`` ``count`` (link
discovery); the tee write follows from ``crawl._write_tee``.

CPU figures named ``cpu_s`` are process-tree CPU (driver, JVM, Python
workers) over the matching spans; ``spark.jvm_task_cpu_s`` is Spark's
``executorCpuTime``, JVM task threads only.
"""

from __future__ import annotations

import statistics

CRAWL_LAYERS = ("scheduler", "fetch_extract", "crawl", "store_tee",
                "store_commit", "unwrapped", "other")
_SPARK_FIELDS = ("stages", "tasks", "executor_run_s", "jvm_task_cpu_s",
                 "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def _parse(group: str) -> tuple[str, int, str | None]:
    parts = group.split("|")
    op, order = parts[1], int(parts[2])
    caller = parts[3] if len(parts) > 4 else None
    return op, order, caller


def _union_s(jobs: list[dict]) -> float:
    """Wall time covered by the jobs' [submission, completion] intervals."""
    total, cur = 0, None
    for t0, t1 in sorted((j["t0_ms"], j["t1_ms"]) for j in jobs):
        if cur is None or t0 > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [t0, t1]
        else:
            cur[1] = max(cur[1], t1)
    if cur is not None:
        total += cur[1] - cur[0]
    return total / 1e3


def _jobs_by_op(jobs: list[dict]) -> dict[str, list[tuple[int, str | None, dict]]]:
    out: dict[str, list] = {}
    for j in jobs:
        op, order, caller = _parse(j["group"])
        out.setdefault(op, []).append((order, caller, j))
    return out


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _layer(order: int, caller: str | None, own: list[int]) -> str:
    """The layer that issued an action (or its jobs) inside one crawl round;
    ``own`` holds the orders of the round's actions issued by run_round
    itself (first: the pop collect, last: new_rows, between: fetch)."""
    if order == 0:
        return "unwrapped"
    if caller == "crawl.run_round":
        return ("scheduler" if order == own[0]
                else "crawl" if len(own) > 1 and order == own[-1]
                else "fetch_extract")
    if caller == "crawl._write_tee":
        return "store_tee"
    if caller.startswith("fetch."):
        return "fetch_extract"
    if caller.startswith("store."):
        return "store_commit"
    return "other"


def crawl_metrics(spans, jobs, counts, store, links_seen: int):
    """Per-layer metrics of the traced crawl ops (each: reopen the store,
    resume, one round, vacuum), and the per-round attribution table
    (round wall = each layer's job time + driver gap)."""
    ops = _jobs_by_op(jobs)
    table, extra = [], []
    fetch_input = bytes_written = 0
    for r in (s for s in spans if s.name == "runner.run_round"):
        op_jobs = ops.get(r.op, [])
        in_round = [s for s in spans if s.op == r.op]
        actions = [s for s in in_round if s.name.startswith("action.")]
        own = sorted(a.attrs["order"] for a in actions
                     if a.attrs["caller"] == "crawl.run_round")
        by_layer: dict[str, list[dict]] = {k: [] for k in CRAWL_LAYERS}
        for order, caller, job in op_jobs:
            by_layer[_layer(order, caller, own)].append(job)
        table.append({"round": r.attrs["round"], "wall_s": r.wall,
                      **{f"{k}_s": _union_s(v) for k, v in by_layer.items()},
                      "driver_gap_s": r.wall - _union_s([j for _, _, j in op_jobs])})
        extra.append({
            "fetch_cpu": sum(a.cpu for a in actions if _layer(
                a.attrs["order"], a.attrs["caller"], own) == "fetch_extract"),
            "commit": sum(s.wall for s in in_round if s.name == "store.commit_round"),
            "resolve": sum(s.wall for s in in_round
                           if s.name in ("store.frontier_state", "store.seen_state")),
        })
        fetch_input += sum(j["input_bytes"] for j in by_layer["fetch_extract"])
        bytes_written += sum(j["output_bytes"] for _, _, j in op_jobs)

    def med(rows, key):
        return _med(row[key] for row in rows)

    # one reopen (CrawlRunner construction + resume_round) per traced op
    inits = [s.wall for s in spans if s.name == "runner.__init__"]
    resumes = [s.wall for s in spans if s.name == "runner.resume_round"]
    new_links = sum(c.get("new_links", 0) for c in counts)
    metrics = {
        "scheduler.pop_s": med(table, "scheduler_s"),
        "scheduler.popped": sum(c.get("popped", 0) for c in counts),
        "scheduler.denied": sum(c.get("denied", 0) for c in counts),
        "fetch_extract.s": med(table, "fetch_extract_s"),
        "fetch_extract.input_bytes": fetch_input,
        "fetch_extract.cpu_s": med(extra, "fetch_cpu"),
        "crawl.discover_s": med(table, "crawl_s"),
        "crawl.links_seen": links_seen,
        "crawl.new_link_ratio": new_links / links_seen if links_seen else 0.0,
        "store.tee_write_s": med(table, "store_tee_s"),
        "store.bytes_written": bytes_written,
        "store.commit_s": med(extra, "commit"),
        "store.state_resolve_s": med(extra, "resolve"),
        "store.delta_files": sum(
            t.n_delta_files() for t in (store.frontier, store.seen, store.results,
                                        store.metrics, store.fetch_log, store.corpus)),
        "store.vacuum_s": _med(s.wall for s in spans if s.name == "store.vacuum"),
        "runner.driver_gap_s": med(table, "driver_gap_s"),
        "runner.resume_s": _med(a + b for a, b in zip(inits, resumes)),
    }
    return metrics, table


def query_metrics(spans, jobs, names) -> dict:
    """Per query, the median over the traced passes of its wall time,
    process-tree CPU and job-covered time (``job_s``: wall time in which
    at least one of its Spark jobs ran); job counts and bytes per pass."""
    ops = _jobs_by_op(jobs)
    out = {}
    for name in names:
        runs = [s for s in spans if s.name == "query" and s.attrs.get("query") == name]
        op_jobs = [[j for _, _, j in ops.get(s.op, [])] for s in runs]
        q = f"q.{name}"
        out[f"{q}.wall_s"] = _med(s.wall for s in runs)
        out[f"{q}.cpu_s"] = _med(s.cpu for s in runs)
        out[f"{q}.job_s"] = _med(_union_s(js) for js in op_jobs)
        out[f"{q}.jobs"] = _med(len(js) for js in op_jobs)
        out[f"{q}.shuffle_bytes"] = _med(
            sum(j["shuffle_read_bytes"] + j["shuffle_write_bytes"] for j in js)
            for js in op_jobs)
        out[f"{q}.spill_bytes"] = _med(sum(j["spill_bytes"] for j in js) for js in op_jobs)
    return out


def spark_op_metrics(spans, jobs) -> dict:
    """Spark work per op (crawl round or query), the median over the traced ops;
    ``spark.unwrapped_jobs`` counts jobs no wrapped action started."""
    ops = _jobs_by_op(jobs)
    op_ids = [s.op for s in spans if s.name in ("runner.run_round", "query")]
    per_op = [[j for _, _, j in ops.get(op, [])] for op in op_ids]
    out = {"spark.jobs": _med(len(js) for js in per_op)}
    for f in _SPARK_FIELDS:
        out[f"spark.{f}"] = _med(sum(j[f] for j in js) for js in per_op)
    out["spark.unwrapped_jobs"] = sum(1 for j in jobs if _parse(j["group"])[1] == 0)
    return out
