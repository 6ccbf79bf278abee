"""One perfbench run: set-up, measured ops, correctness checks.

Started by ``run.py`` in its own process group; writes its findings as
JSON to ``--out``.

* ``crawl_polite``: set-up seeds the store and crawls round 0, then stops
  (the kill), then crawls one unmeasured op. One op = reopen the store
  with a new ``CrawlRunner``, resume and crawl one round (vacuum
  included). A pass is one op.
* ``dedup_corpus``: set-up runs the query set once to warm up. One op =
  one query, collected; a pass is the query set.

A run measures ``--seconds`` divided by the nominal pass time
(``PASS_S``) passes, and at least ``MIN_PASSES``: a number fixed by the
arguments, not by how fast the machine happens to be, so every run's
median sits at the same point of the JVM's warm-up. With ``--trace 1``
the same passes run traced; the tracing overhead is the traced run's
``trace.pass_s`` minus an untraced run's ``pass_s``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

import inputs  # noqa: E402
import layers  # noqa: E402
from crawlspark.entry_queries import ORACLES, QUERIES  # noqa: E402
from crawlspark.kernels import extract_page, extract_records_and_links  # noqa: E402
from crawlspark.runner import CrawlRunner  # noqa: E402
from crawlspark.schema import PAGES, ROBOTS, SEEDS  # noqa: E402
from crawlspark.session import get_spark  # noqa: E402
from crawlspark.simulator import simulate  # noqa: E402
from crawlspark.synth import generate_site, inflate_pages  # noqa: E402
from tracer import Tracer, tree_cpu_s  # noqa: E402

N_SETUPS = 3
MIN_PASSES = 3
# nominal wall time of one pass on a 4-vCPU VM (a resumed crawl round, or
# the dedup query set: 7-9 s each), which turns --seconds into a number of
# passes
PASS_S = 8.0
# queries whose wall time is mostly Spark jobs at inputs.N_DOCS (see
# README); the other six named for this workload are left out to fit the
# run-time budget
DEDUP_QUERIES = ["t04_ngram_jaccard", "t19_line_dedup", "t70_nb_heldout_eval"]


class Ops:
    """Op accounting: every op attempted, every failure with its reason."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def fail(self, what: str) -> None:
        self.failures.append(what)


def _now() -> float:
    return time.perf_counter()


def _start_session(work: str, cpus: int):
    return get_spark(
        "perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep every job of a run in the status store for attribution
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
                # the whole heap is committed and touched at start, so the
                # JVM's peak memory does not depend on how far the collector
                # happened to grow the heap in a run
                f"-Xms{os.environ['CRAWLSPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch",
        },
    )


# -- crawl_polite ---------------------------------------------------------------

def polite_setup(spark, seed: int, d: str) -> dict:
    site = generate_site(inputs.polite_site(seed))
    inputs.write_pages(site["pages"], f"{d}/pages.parquet")
    pages = spark.read.parquet(f"{d}/pages.parquet")
    seeds = spark.createDataFrame(site["seeds"], schema=SEEDS)
    robots = spark.createDataFrame(site["robots"], schema=ROBOTS)
    return {"site": site, "pages": pages, "seeds": seeds, "robots": robots}


def polite_start(spark, inp: dict, store_root: str) -> None:
    """Seed the store and crawl round 0, then stop as if killed. Round 0
    runs every job a round runs, so it is also the warm-up."""
    first = CrawlRunner(spark, store_root, inputs.polite_cfg())
    first.init(inp["seeds"])
    first.run(inp["pages"], inp["robots"], stop_after_round=0)


def polite_pass(spark, inp: dict, store_root: str, ops: Ops) -> dict:
    """Reopen the store, resume and crawl one round (one op)."""
    ops.attempted += 1
    runner, counts = None, []
    c0 = tree_cpu_s()
    t0 = _now()
    try:
        runner = CrawlRunner(spark, store_root, inputs.polite_cfg())
        counts = runner.run(inp["pages"], inp["robots"], max_rounds=1).counts
        if len(counts) != 1:
            ops.fail(f"expected one round, ran {len(counts)}")
    except Exception:
        ops.fail(traceback.format_exc(limit=3))
    wall = _now() - t0
    urls = sum(c.get("fetched", 0) for c in counts)
    return {"wall": wall, "cpu": tree_cpu_s() - c0, "ops": [wall], "urls": urls,
            "runner": runner, "counts": counts}


def polite_check(inp: dict, passes: list[dict], ops: Ops) -> None:
    """The crawl, killed after every round and resumed, against the
    pure-Python simulator running the same rounds uninterrupted: fetch
    order, seen set, frontier statuses, results and the fetched count must
    all agree."""
    runner = passes[-1]["runner"]
    if runner is None:
        return
    site = inp["site"]
    rounds = 1 + sum(len(p["counts"]) for p in passes)
    sim = simulate({p["url"]: p["html"] for p in site["pages"]}, site["seeds"],
                   site["robots"], inputs.polite_cfg(), max_rounds=rounds)
    fetch_sequence = runner.fetch_sequence()
    got_status = {r["fp"]: r["status"] for r in
                  runner.store.frontier_state().select("fp", "status").collect()}
    got_results = {r["rank"]: (r["name"], r["rate"], r["num"], r["url"])
                   for r in runner.store.results_state().collect()}
    want_results = {k: (v["name"], v["rate"], v["num"], v["url"])
                    for k, v in sim.results.items()}
    checks = {
        "fetch_sequence": fetch_sequence == sim.fetch_sequence,
        "seen_set": runner.seen_urls() == sim.seen_urls,
        "frontier_status": got_status == sim.statuses,
        "results": got_results == want_results,
        "fetched_per_round": all(p["urls"] == inputs.POLITE_URLS_PER_ROUND
                                 for p in passes),
    }
    for name, ok in checks.items():
        if not ok:
            ops.fail(f"crawl_polite check failed: {name}")


def links_seen(inp: dict, fetched_urls: list[str]) -> int:
    """Raw links on the pages fetched in the traced rounds, counted with
    the program's own page extractor (outside any timed region)."""
    html = {p["url"]: p["html"] for p in inp["site"]["pages"]}
    return sum(len(extract_page(u, html[u], include_text=False)["links"])
               for u in fetched_urls)


def kernel_alone(spark, seed: int, d: str) -> dict:
    """extract_records_and_links alone over a bulk-shaped, inflated corpus:
    one warm call, then the median of three timed ones."""
    site = generate_site(inputs.bulk_site(seed))
    base = spark.createDataFrame(site["pages"], schema=PAGES)
    inflate_pages(base, inputs.BULK_PAD_WORDS).repartition(8).write.parquet(f"{d}/bulk")
    pages = spark.read.parquet(f"{d}/bulk")
    n = pages.count()
    extract_records_and_links(pages).count()
    walls = []
    for _ in range(3):
        t = _now()
        extract_records_and_links(pages).count()
        walls.append(_now() - t)
    s = statistics.median(walls)
    return {"kernels.extract_s": s, "kernels.pages_per_s": n / s}


# -- dedup_corpus ------------------------------------------------------------------

def dedup_setup(spark, seed: int, d: str) -> dict:
    inputs.write_documents(seed, d)
    return {"sf_dir": d}


def dedup_pass(spark, inp: dict, ops: Ops, tracer=None, pass_no: int = 0) -> dict:
    walls, rows = [], {}
    c0 = tree_cpu_s()
    t0 = _now()
    for name in DEDUP_QUERIES:
        ops.attempted += 1
        builder = QUERIES[name] if tracer is None else tracer.wrap_query(name, QUERIES[name])
        t = _now()
        try:
            with (tracer.op(f"q.{name}.{pass_no}", "query", query=name) if tracer
                  else contextlib.nullcontext()):
                df = builder(spark, inp["sf_dir"])
                rows[name] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception:
            ops.fail(f"{name}: {traceback.format_exc(limit=3)}")
        walls.append(_now() - t)
    wall = _now() - t0
    return {"wall": wall, "cpu": tree_cpu_s() - c0, "ops": walls, "rows": rows}


def _norm_cell(v):
    # the cell normalization of tests/test_entry_contract.py
    if isinstance(v, float):
        return "nan" if v != v else round(v, 5)
    return v


def _norm(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted([tuple(_norm_cell(r[i]) for i in idx) for r in rows], key=repr)


def dedup_check(inp: dict, passes: list[dict], ops: Ops) -> None:
    """Every pass's collected rows against each query's DuckDB oracle twin."""
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"'{inp['sf_dir']}/documents.parquet'")
        for name in DEDUP_QUERIES:
            cur = con.execute(ORACLES[name])
            want_cols = [c[0] for c in cur.description]
            want = _norm(cur.fetchall(), want_cols)
            for p in passes:
                if name not in p["rows"]:
                    continue  # the query raised: already a failure
                cols, got = p["rows"][name]
                if sorted(cols) != sorted(want_cols) or _norm(got, cols) != want:
                    ops.fail(f"{name}: rows differ from the DuckDB oracle")
    finally:
        con.close()


# -- main ------------------------------------------------------------------------

def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["crawl_polite", "dedup_corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    cpus = len(os.sched_getaffinity(0))
    polite = args.workload == "crawl_polite"

    # set-up = session start + the median of N_SETUPS input generations and
    # layouts (each into a fresh directory) + the warm-up on the last (crawl:
    # seed the store, crawl round 0 and resume for one more round; dedup: one
    # run of the query set).
    # The session starts once: a second SparkContext in one process breaks
    # PySpark's accumulator server.
    t0 = _now()
    spark = _start_session(args.work, cpus)
    session_s = _now() - t0
    prep_s, inp = [], None
    for i in range(N_SETUPS):
        d = f"{args.work}/setup{i}"
        os.makedirs(d)
        t0 = _now()
        inp = (polite_setup if polite else dedup_setup)(spark, args.seed, d)
        prep_s.append(_now() - t0)
    store_root = f"{args.work}/store"
    ops = Ops()
    warm: list[dict] = []
    t0 = _now()
    # crawl: round 0 and one resumed round (the first resumed round is
    # always the slowest: the JVM is still compiling the resume path)
    if polite:
        polite_start(spark, inp, store_root)
    warm.append(polite_pass(spark, inp, store_root, ops) if polite
                else dedup_pass(spark, inp, ops))
    warmup_s = _now() - t0

    passes: list[dict] = []
    tracer = None
    if args.trace:
        tracer = Tracer(spark, "traced")
        tracer.install()
    n_passes = max(MIN_PASSES, round(args.seconds / PASS_S))
    if polite:  # the site's rounds after round 0 and the warm-up round
        n_passes = min(n_passes, inputs.POLITE_ROUNDS - 2)
    try:
        for _ in range(n_passes):
            if polite:
                res = polite_pass(spark, inp, store_root, ops)
            else:
                res = dedup_pass(spark, inp, ops, tracer, len(passes))
            passes.append(res)
            if ops.failures:
                break
    finally:
        if tracer:
            tracer.uninstall()

    per_layer: dict = {}
    attribution: list[dict] = []
    if tracer:
        jobs = tracer.job_records()
        per_layer = {
            "session.start_s": session_s,
            # the pass time as run.py reports pass_s: per-op medians, summed
            "trace.pass_s": sum(statistics.median(p["ops"][i] for p in passes)
                                for i in range(len(passes[0]["ops"]))),
            "trace.pass_cpu_s": statistics.median(p["cpu"] for p in passes),
        }
        if polite:
            counts = [c for p in passes for c in p["counts"]]
            # rounds 0 to len(warm) ran in set-up, untraced
            fetched = [u for r, _, u in passes[-1]["runner"].fetch_sequence()
                       if r > len(warm)]
            metrics, attribution = layers.crawl_metrics(
                tracer.spans, jobs, counts, passes[-1]["runner"].store,
                links_seen(inp, fetched))
            per_layer.update(metrics)
            per_layer.update(kernel_alone(spark, args.seed, f"{args.work}/kernel"))
        else:
            per_layer.update(layers.query_metrics(tracer.spans, jobs, DEDUP_QUERIES))
        per_layer.update(layers.spark_op_metrics(tracer.spans, jobs))
        with open(f"{args.work}/spans.json", "w") as f:
            json.dump({"spans": tracer.dump(), "jobs": jobs}, f)

    t0 = _now()
    (polite_check if polite else dedup_check)(inp, warm + passes, ops)
    check_s = _now() - t0
    spark.stop()

    out = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "queries": [] if polite else DEDUP_QUERIES,
        "setup_s": session_s + statistics.median(prep_s) + warmup_s,
        "session_s": session_s, "prep_s": prep_s, "warmup_s": warmup_s,
        "check_s": check_s,
        "passes": [{"wall": p["wall"], "cpu": p["cpu"], "ops": p["ops"], "urls": p.get("urls")}
                   for p in passes],
        "attempted": ops.attempted, "failures": ops.failures,
        "per_layer": per_layer, "attribution": attribution,
    }
    with open(args.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
