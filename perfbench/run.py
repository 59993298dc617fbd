"""The KG benchmark: one closed-loop client process, one Spark session built
with ``session.get_spark`` (engine defaults, ``local[<cores>]``), one unit
of work at a time.

    python3 perfbench/run.py --workload kg_build_fused --seed 1 \
        --seconds 10 --trace 0

Workloads (inputs generated from ``--seed`` before any timing):

* ``kg_build_fused``  — one ``KGPipeline(materialize_text=False).run``
  over a pages snapshot with malformed rows; the warm-up is a staged
  build of the same snapshot, which the output checks compare against,
  then one untimed pass of the fused Stage-1+2 operator.
* ``kg_refresh_wide`` — one ``KGPipeline.refresh_downstream`` over a
  triples table with a wide, Zipf-skewed alias vocabulary.

A run: generate inputs; set up three times (build the session, finish a
first job that starts the Python workers; the first set-up also launches
the JVM) and report the median as ``setup_s``; one untimed warm-up unit;
then units into fresh out dirs until ``--seconds`` have been measured.
Output checks run after each unit, outside timing; any failure makes
the exit code 1. ``--trace 1`` instead runs one untraced and one traced
unit (plus, for the build workload, one traced staged build) with the
Spark event log on and reports the per-layer numbers (``tracing.py``),
writing spans and layers to ``.perfbench_work/trace/<workload>-seed<n>
.json``; ``perfbench/layers/`` holds the copies made for seed 1.

Everything the run writes (inputs, tables, Spark scratch, temp files,
event logs) stays under ``.perfbench_work`` in the checkout. The last
line of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

N_PAGES = 1500
MALFORMED_SHARE = 0.02
WIDE_GROUPS = 800
WIDE_TRIPLES = 40_000
SETUPS = 3
WORKLOADS = ("kg_build_fused", "kg_refresh_wide")


def _identity(batches):
    yield from batches


# -- process tree ----------------------------------------------------------

def _ppids() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat", "rb") as f:
                    out[int(name)] = int(f.read().rsplit(b")", 1)[1].split()[1])
            except OSError:
                pass
    return out


def descendants(root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in _ppids().items():
        kids.setdefault(ppid, []).append(pid)
    seen, stack = set(), [root]
    while stack:
        for c in kids.get(stack.pop(), ()):
            if c not in seen:
                seen.add(c)
                stack.append(c)
    return seen


class PeakRss:
    """Resident-memory high-water of this process and its descendants,
    sampled every ``interval`` seconds while the context is open."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        total = 0
        for pid in descendants(os.getpid()) | {os.getpid()}:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self.PAGE
            except OSError:
                pass
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def steal_seconds() -> float:
    """Host-wide CPU time stolen by the hypervisor so far; its delta
    over a unit says whether a slow unit was this machine's neighbours."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


# -- session ---------------------------------------------------------------

def spark_conf(trace: bool) -> dict[str, str]:
    """Only where the engine writes and what it prints; every engine
    setting stays the ``get_spark`` default."""
    conf = {
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
        }
    return conf


def set_up(cores: int, conf: dict[str, str]):
    """Build the session and finish its first job; (spark, seconds)."""
    from clip_retrieval_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{cores}]", app_name="perfbench",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    (
        spark.range(0, 64 * cores, numPartitions=cores)
        .mapInPandas(_identity, "id long")
        .write.format("noop").mode("overwrite").save()
    )
    return spark, time.perf_counter() - t0


def shut_down(spark) -> None:
    """Stop the session, the JVM and every process under this one, and
    wait until each has ended."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = {p for p in kids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def storage_retained_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


# -- workloads -------------------------------------------------------------

class Workload:
    """Inputs, the unit of work and its per-unit output checks."""

    def __init__(self, name: str, seed: int) -> None:
        import inputs

        self.name, self.seed = name, seed
        self.failures: list[str] = []
        self.hashes: dict[str, str] | None = None
        t0 = time.perf_counter()
        if name == "kg_build_fused":
            from clip_retrieval_spark.fixtures import (
                ENTITY_ALIASES,
                PERSONS,
                PLACES,
            )

            self.src = os.path.join(WORK, "inputs", "pages")
            info = inputs.write_pages(self.src, N_PAGES, seed,
                                      MALFORMED_SHARE)
            self.malformed = info.pop("malformed_urls")
            self.groups = ENTITY_ALIASES
            self.singletons = tuple(PERSONS + PLACES)
            self.pages = info["pages"]
        else:
            self.src = os.path.join(WORK, "inputs", "triples")
            info, self.groups = inputs.write_wide_triples(
                self.src, WIDE_GROUPS, WIDE_TRIPLES, seed)
            self.singletons = ()
            self.pages = WIDE_TRIPLES // 20  # source documents
            self.triples = WIDE_TRIPLES
        self.input = info | {"seed": seed,
                             "gen_s": time.perf_counter() - t0}

    def unit(self, spark, out: str, staged: bool = False,
             run_id: str | None = None) -> None:
        from clip_retrieval_spark.plans.pipeline import KGPipeline

        df = spark.read.parquet(self.src)
        if self.name == "kg_build_fused":
            KGPipeline(spark, out, materialize_text=staged,
                       run_id=run_id).run(df)
        else:
            KGPipeline(spark, out, run_id=run_id).refresh_downstream(df, 1)

    def warm_measured_path(self, spark) -> None:
        """After a staged warm-up only the fused Stage-1+2 operator of a
        fused build is still cold; run it once, untimed."""
        if self.name == "kg_build_fused":
            from clip_retrieval_spark.operators.triples import (
                extract_and_triples_df,
            )

            (extract_and_triples_df(spark.read.parquet(self.src))
             .write.format("noop").mode("overwrite").save())

    def check(self, out: str, staged: bool = False) -> dict:
        """Checks one finished unit; returns its quality and size."""
        import checks

        res = {"canon_pair_f1": checks.canon_pair_f1(out, self.groups,
                                                     self.singletons)}
        got = checks.kg_hashes(out)
        if self.name == "kg_build_fused":
            got[checks.TRIPLES] = checks.content_hash(
                out, checks.TRIPLES, checks.TRIPLES_COLS)
            res["triples"] = int(got[checks.TRIPLES].split(":")[0])
            if staged:
                self.failures += checks.staged_build_failures(
                    ROOT, out, self.src, self.malformed, self.seed)
        else:
            res["triples"] = self.triples
        if self.hashes is None:
            self.hashes = got
        for table, h in got.items():
            if h != self.hashes[table]:
                kind = ("fused vs staged" if table == checks.TRIPLES
                        else "vs this run's first build")
                self.failures.append(f"{table} content hash differs "
                                     f"({kind}): {h} != {self.hashes[table]}")
        if res["canon_pair_f1"] < 0.9:
            self.failures.append(
                f"canon_pair_f1 {res['canon_pair_f1']:.4f} below 0.9")
        return res


def timed_unit(spark, wl: Workload, out: str, staged: bool = False,
               run_id: str | None = None) -> dict:
    from clip_retrieval_spark.procstat import tree_cpu_seconds

    shutil.rmtree(out, ignore_errors=True)
    c0, st0 = tree_cpu_seconds(), steal_seconds()
    with PeakRss() as rss:
        t0 = time.perf_counter()
        wl.unit(spark, out, staged=staged, run_id=run_id)
        wall = time.perf_counter() - t0
    rec = {"wall_s": wall, "cpu_s": tree_cpu_seconds() - c0,
           "steal_s": steal_seconds() - st0,
           "peak_rss_mb": rss.peak_bytes / 2**20}
    rec["files"], rec["bytes"] = dir_bytes(out)
    rec["stored_mb"] = rec["bytes"] / 2**20
    rec |= wl.check(out, staged=staged)
    return rec


# -- modes -----------------------------------------------------------------

def end_to_end(units: list[dict], wl: Workload, setups: list[float]) -> dict:
    def med(key: str) -> float:
        return statistics.median(u[key] for u in units)

    wall = med("wall_s")
    return {
        "wall_s": wall,
        "pages_per_s": wl.pages / wall,
        "triples_per_s": med("triples") / wall,
        "cpu_s": med("cpu_s"),
        "stored_mb": med("stored_mb"),
        "canon_pair_f1": min(u["canon_pair_f1"] for u in units),
        "setup_s": statistics.median(setups),
    }


def traced(spark, wl: Workload, out: str) -> dict:
    """One traced unit (and for the build workload one traced staged
    unit, the only path through ``operators.extract``)."""
    import checks
    import tracing as tr

    runs = [("main", False)]
    if wl.name == "kg_build_fused":
        runs.append(("staged", True))
    tracers, recs = {}, {}
    for key, staged in runs:
        t = tr.Tracer(spark, run_id=f"{key}-{wl.seed}")
        t.install()
        try:
            recs[key] = timed_unit(spark, wl, out + "_" + key, staged=staged,
                                   run_id=t.run_id)
        finally:
            t.uninstall()
        recs[key]["tables"] = {
            f"{tbl}_rows": checks.read_table(out + "_" + key, tbl, []).num_rows
            for tbl in (checks.ENTITIES, checks.SURFACE_LINKS)
        } | {"triples_rows": recs[key]["triples"] if wl.name ==
             "kg_build_fused" else 0,
             "files": recs[key]["files"], "bytes": recs[key]["bytes"]}
        tracers[key] = t
    retained = storage_retained_mb(spark)
    app = spark.sparkContext.applicationId
    return {"tracers": tracers, "recs": recs, "app": app,
            "retained_mb": retained}


def finish_trace(wl: Workload, t: dict, untraced_wall: float) -> dict:
    """Per-layer numbers from spans and the event log; the tracing
    overhead is the traced unit's wall minus ``untraced_wall``, that of
    the untraced unit just before it (so it also holds the small
    speed-up one more unit of warm-up gives)."""
    import tracing as tr

    log_dir = os.path.join(WORK, "eventlog", f"eventlog_v2_{t['app']}")
    log = tr.parse_event_log(log_dir)
    layers = {}
    for key, tracer in t["tracers"].items():
        layers[key] = tr.layer_metrics(tracer.spans, log,
                                       t["recs"][key]["tables"])
    metrics = dict(layers["main"])
    if "staged" in layers:
        for k, v in layers["staged"].items():
            if k.startswith("extract."):
                metrics[k] = v
    metrics["session.storage_retained_mb"] = t["retained_mb"]
    metrics["session.peak_rss_mb"] = t["recs"]["main"]["peak_rss_mb"]
    metrics["trace.overhead_s"] = t["recs"]["main"]["wall_s"] - untraced_wall
    report = {
        "workload": wl.name,
        "input": wl.input,
        "untraced_wall_s": untraced_wall,
        "units": {k: {kk: vv for kk, vv in r.items() if kk != "tables"}
                  for k, r in t["recs"].items()},
        "layers": layers,
        "metrics": metrics,
        "spans": {k: _with_self_times(tc.spans, tr.self_times(tc.spans))
                  for k, tc in t["tracers"].items()},
        "labels": log["per_label"],
    }
    os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
    path = os.path.join(WORK, "trace", f"{wl.name}-seed{wl.seed}.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True, default=float)
    return metrics


def _with_self_times(spans: list[dict], selfs: dict[int, float]):
    return [dict(s, self_s=selfs[s["id"]]) for s in spans]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = {m["name"]: m["unit"] for m in
                    json.load(fh)["per_layer" if args.trace else "end_to_end"]}

    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local", "eventlog", "out"):
        os.makedirs(os.path.join(WORK, d))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    # every JVM started from here, the spark-submit launcher included:
    # temp files in the work dir, no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    cores = len(os.sched_getaffinity(0))

    wl = Workload(args.workload, args.seed)
    conf = spark_conf(trace=bool(args.trace))
    out = os.path.join(WORK, "out", "unit")
    setups: list[float] = []
    units: list[dict] = []
    attempted = failed = 0
    spark = trace_state = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, s = set_up(cores, conf)
            setups.append(s)
        # warm-up, untimed: for the build workload the staged path, whose
        # text table the oracle checks read
        warm = timed_unit(spark, wl, out, staged=wl.name == "kg_build_fused")
        wl.warm_measured_path(spark)
        t_start = time.perf_counter()
        while failed < 3 and (not units or (
                not args.trace
                and time.perf_counter() - t_start < args.seconds)):
            attempted += 1
            try:
                units.append(timed_unit(spark, wl, out))
            except Exception as exc:  # a unit that raised counts as failed
                failed += 1
                wl.failures.append(f"unit raised {type(exc).__name__}: {exc}")
        if args.trace and units:
            trace_state = traced(spark, wl, out)
    finally:
        if spark is not None:
            shut_down(spark)

    metrics = {}
    if trace_state is not None:
        metrics = finish_trace(wl, trace_state, units[0]["wall_s"])
    elif units and not args.trace:
        metrics = end_to_end(units, wl, setups)
    if metrics and set(metrics) != set(declared):
        wl.failures.append("metrics differ from BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ set(declared))}")
    for k, v in sorted(metrics.items()):
        print(f"{wl.name} {k} = {v:.6g} {declared.get(k, '')}")
    print(f"{wl.name} unit_walls={[round(u['wall_s'], 3) for u in units]} "
          f"steal_s={[round(u['steal_s'], 2) for u in units]} "
          f"rss_mb={[round(u['peak_rss_mb']) for u in units]}")
    print(f"{wl.name} warmup_wall_s={warm['wall_s']:.3f} "
          f"setups_s={[round(s, 3) for s in setups]} input={wl.input}")
    for f in wl.failures:
        print(f"CHECK FAILED: {f}")
    correct = not wl.failures and bool(units)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": declared[k]}
                    for k, v in metrics.items() if k in declared},
    }))
    shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "local"), ignore_errors=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
