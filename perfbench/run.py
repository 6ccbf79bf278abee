"""perfbench: end-to-end and per-layer benchmark of crawlspark on local[N].

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 24 --trace 0

Runs one workload in a child process (``workload.py``) inside its own
process group, samples the peak memory of the Spark driver JVM and
its Python workers, checks the outputs, prints every metric by name with its unit,
and prints as its last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.

Every file of a run (stores, corpora, Spark scratch, spans) lives in a
work directory under ``.perfbench-work/`` in the checkout and is removed
at exit; ``--spans-out FILE`` keeps a copy of the traced run's spans.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_polite", "dedup_corpus")
# Spark's own default, which fits a small machine (session.get_spark
# defaults to 48g). workload.py commits and touches the whole heap at start,
# so peak memory does not depend on how far the collector grew it
DRIVER_MEM = "1g"
RUN_LIMIT_S = 170.0


def _metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _read_kb(path: str, key: str) -> int:
    """The ``key:`` line of a /proc file, in KiB; 0 once the process is gone."""
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _session_pids(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    state, _, _, session = f.read().rsplit(")", 1)[1].split()[:4]
            except (OSError, ValueError):
                continue
            if int(session) == sid and state != "Z":
                out.append(int(name))
    return out


class RssSampler(threading.Thread):
    """Peak memory of the workload's driver JVM plus its Python workers.

    The JVM's peak is the kernel's own high-water mark (``VmHWM``), read
    every ``PERIOD`` s until the JVM exits, so no peak is missed between
    samples. The Python worker daemon and its forked workers share most of
    their pages, so they are summed as PSS (proportional set size: shared
    pages counted once) and the peak of that sum is taken over the
    samples. Other processes are left out: a helper the JVM spawns shares
    the JVM's memory until it execs, and would count it twice. Reading PSS
    walks a process's page tables under its memory lock; doing that on the
    JVM every 0.1 s cost about a third of a core and stalled the JVM's own
    page faults, so only the small Python processes are read that way, at
    a low rate."""

    PERIOD = 0.5

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.jvm_kb = self.python_kb = self.n_python = 0
        self._halt = threading.Event()

    @property
    def peak_kb(self) -> int:
        return self.jvm_kb + self.python_kb

    def run(self) -> None:
        while not self._halt.wait(self.PERIOD):
            python_kb = n_python = 0
            for p in _session_pids(self.pid):
                if p == self.pid:
                    continue
                comm = _comm(p)
                if comm == "java":
                    self.jvm_kb = max(self.jvm_kb,
                                      _read_kb(f"/proc/{p}/status", "VmHWM:"))
                elif comm.startswith("python"):
                    kb = _read_kb(f"/proc/{p}/smaps_rollup", "Pss:")
                    python_kb += kb
                    n_python += bool(kb)
            if python_kb > self.python_kb:
                self.python_kb, self.n_python = python_kb, n_python

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _stop_session(sid: int) -> None:
    """Ends every process of the workload's session and waits for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 10.0
        while (pids := _session_pids(sid)) and time.monotonic() < deadline:
            for p in pids:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)
        if not pids:
            return


def _report(res: dict, sampler: RssSampler, trace: bool) -> dict:
    end_to_end, per_layer = _metric_units()
    ops = [t for p in res["passes"] for t in p["ops"]]
    attempted, failed = res["attempted"], min(len(res["failures"]), res["attempted"])
    polite = res["workload"] == "crawl_polite"
    lines = [f"workload {res['workload']}  seed {res['seed']}  local[{res['cpus']}]  "
             f"driver memory {DRIVER_MEM}  passes {len(res['passes'])}  ops {len(ops)}"]
    if trace:
        unknown = set(res["per_layer"]) - set(per_layer)
        if unknown:
            raise ValueError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
        # a layer this workload does not run reads 0
        metrics = {k: res["per_layer"].get(k, 0) for k in per_layer}
        units = per_layer
        for row in res["attribution"]:
            parts = "  ".join(f"{k[:-2]} {v:.3f}" for k, v in row.items()
                              if k.endswith("_s") and k != "wall_s" and v)
            lines.append(f"round {row['round']}: wall {row['wall_s']:.3f} s = {parts}")
    else:
        walls = [p["wall"] for p in res["passes"]]
        # per-op medians over the passes: one crawl round is one op; on
        # dedup the sum of the per-query medians, so a slow stretch of the
        # machine that hits one query of one pass does not count
        op_medians = [statistics.median(p["ops"][i] for p in res["passes"])
                      for i in range(len(res["passes"][0]["ops"]))]
        metrics = {
            "setup_s": res["setup_s"],
            "pass_s": sum(op_medians),
            "peak_rss_mb": sampler.peak_kb / 1024.0,
        }
        units = end_to_end
        lines.append(f"setup_s = session start {res['session_s']:.3f} s + median of "
                     f"{len(res['prep_s'])} input generations and layouts ("
                     + " ".join(f"{x:.3f}" for x in res["prep_s"])
                     + f") + {'round 0 and one resumed round' if polite else 'warm-up query set'} "
                     f"{res['warmup_s']:.3f} s")
        if polite:
            urls = sum(p["urls"] for p in res["passes"])
            lines.append(f"round_p50_s {metrics['pass_s']:.4f} s: median over "
                         f"{len(walls)} resumed rounds (pass_s)")
            lines.append(f"urls_per_sec {urls / sum(walls):.4f} 1/s "
                         f"({urls} URLs in {sum(walls):.3f} s of rounds)")
        else:
            lines.append(f"suite_s {metrics['pass_s']:.4f} s: sum of the per-query "
                         f"medians over {len(walls)} runs of the query set (pass_s; "
                         f"median query-set wall {statistics.median(walls):.4f} s)")
            for name, m in zip(res["queries"], op_medians):
                lines.append(f"q.{name}.wall_s median {m:.4f} s")
        lines.append(f"{'round' if polite else 'query'}_tail_s not reported: a percentile "
                     "with ten samples beyond it needs more ops than a run holds")
        lines.append(f"peak_rss_mb = JVM peak RSS {sampler.jvm_kb / 1024:.0f} MB + peak PSS "
                     f"of {sampler.n_python} Python processes {sampler.python_kb / 1024:.0f} MB")
    lines.append("op walls " + " ".join(f"{t:.3f}" for t in ops)
                 + f"  (checks after them {res['check_s']:.3f} s)")
    lines.append("pass cpu " + " ".join(f"{p['cpu']:.3f}" for p in res["passes"]))
    for k, v in metrics.items():
        lines.append(f"{k} {v:.6g} {units[k]}")
    lines.append(f"error_rate {failed}/{attempted} = {failed / max(attempted, 1):.4f}")
    for f in res["failures"]:
        lines.append(f"FAILED: {f.strip()}")
    print("\n".join(lines), flush=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--spans-out", help="copy the traced run's spans to FILE")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "crawlspark", "__init__.py")):
        print(f"perfbench: no crawlspark package beside {HERE}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench-work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    env = dict(os.environ)
    env.update({
        # the Python workers Spark forks import crawlspark too
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "CRAWLSPARK_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        # the same string hashes, set orders and dict layouts in every run
        "PYTHONHASHSEED": "0",
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
    })
    env.pop("CRAWLSPARK_TIMING", None)  # its per-phase prints would be timed too
    os.makedirs(env["TMPDIR"])
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out]
    # a SIGTERM to the launcher still stops the workload and cleans up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start, steal0 = time.monotonic(), _cpu_steal()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, start_new_session=True)
    sampler = RssSampler(proc.pid)
    sampler.start()
    try:
        try:
            code = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            code = None
        sampler.stop()
        if code != 0 or not os.path.exists(out):
            print(f"perfbench: workload process {'timed out' if code is None else f'exited {code}'}",
                  file=sys.stderr)
            return 1
        with open(out) as f:
            res = json.load(f)
        if args.spans_out and os.path.exists(os.path.join(work, "spans.json")):
            shutil.copyfile(os.path.join(work, "spans.json"), args.spans_out)
        summary = _report(res, sampler, bool(args.trace))
    finally:
        if sampler.is_alive():
            sampler.stop()
        t_exit = time.monotonic()
        _stop_session(proc.pid)
        proc.wait()
        steal = [b - a for a, b in zip(steal0, _cpu_steal())]
        print(f"perfbench: workload process {t_exit - t_start:.1f} s, stopping its "
              f"session {time.monotonic() - t_exit:.1f} s, CPU steal "
              f"{100.0 * steal[0] / max(steal[1], 1):.1f}%", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run's work dir is still there
    print(json.dumps(summary), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
