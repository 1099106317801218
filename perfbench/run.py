#!/usr/bin/env python3
"""Benchmark of the query engine through its public API.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One run:

1. builds the workload's inputs from ``--seed`` (perfbench/inputs.py, in a
   child process) in a private work directory under ``perfbench/_work``,
   removed at the end;
2. sets up as a user would: imports the engine and its registry, starts the
   session (``session.get_spark``) and lays out the inputs
   (``tables._read_path`` re-chunk). ``setup_s`` counts from process start
   to here, leaving out step 1;
3. runs an untimed warm-up round if the workload stands for a long-lived
   session, then measured rounds (every query once each) back to back: the
   workload's fixed count, or else until ``--seconds`` have passed and there
   are enough latency samples for a p90 (``measure.another_round``). A query
   is timed from its ``builder`` call until its result is materialized;
4. reads peak memory, then checks results: each query's first result
   against its DuckDB oracle in the canonical form of tests/parity.py, and
   its last result against the row count and digest of its first. A wrong
   result counts as a failed query;
5. stops the session and sets up once more in a fresh process; ``setup_s``
   is the median of the two set-ups (their mean). A third would add another
   JVM start, about 7 s, to every run.

With ``--trace 1`` the measured rounds are traced and the run reports
per-layer figures, each per round, instead of the end-to-end ones. The
tracing overhead is the time spent on work an untraced run does not do.
Spans go to ``perfbench/_traces``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. The lines before it give every
metric with its unit, ``failed_frac``, the sample counts and the machine.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from measure import (  # noqa: E402
    Round, another_round, failed_frac, percentile, run_round, summarize,
)
from workloads import WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "queries_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "peak_rss_mb": "MB",
}
# Per-layer figures, and the end-to-end metric each should move:
# session.get_spark_s and tables.read_path_s / layout_bytes_written move
# setup_s on both workloads. tables.load_*, registry.build_*, plan.plan_s and
# self.* move latency_p50_s and queries_per_s on interactive_mix, and are a
# small share of wall_s on mapreduce_text. Shuffle, spill and
# executor_nonjvm_s (Python workers, I/O waits) move wall_s on mapreduce_text;
# tasks_failed moves failed_frac; gc_s moves wall_s and peak_rss_mb.
# streaming.latency_p50_s is the streaming queries' part of interactive_mix.
PER_LAYER = {
    "session.get_spark_s": "s",
    "tables.read_path_s": "s",
    "tables.layout_bytes_written": "bytes",
    "tables.load_calls": "count",
    "tables.load_s": "s",
    "registry.build_s": "s",
    "registry.build_p50_s": "s",
    "plan.plan_s": "s",
    "exec.exec_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.stages_skipped": "count",
    "exec.tasks": "count",
    "exec.tasks_failed": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.executor_nonjvm_s": "s",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.output_mb": "MB",
    "exec.core_busy_frac": "ratio",
    "exec.stage_reuse_frac": "ratio",
    "streaming.latency_p50_s": "s",
    "self.query_s": "s",
    "self.build_s": "s",
    "self.load_s": "s",
    "self.plan_s": "s",
    "self.exec_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
}
SETUP_REPEATS = 2  # this process plus a fresh one


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


_T_START = time.perf_counter() - process_age_s()


def machine() -> dict:
    """Cores, memory and boot id; the session is sized from these."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith("MemTotal:")).split()[1])
    with open("/proc/sys/kernel/random/boot_id") as fh:
        boot_id = fh.read().strip()
    # a quarter of physical memory, at most 4g: the machine is shared
    heap_gb = max(1, min(4, mem_kb // 2**20 // 4))
    return {"cores": cores, "mem_gb": round(mem_kb / 2**20, 1),
            "heap": f"{heap_gb}g", "young": f"{heap_gb * 256}m", "boot_id": boot_id}


def cpu_probe_s() -> float:
    """Time of a fixed single-threaded loop: shows how fast the host ran
    this run (reported, never used to adjust a metric)."""
    t0 = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all cores since boot: the share stolen
    by the hypervisor during a run shows a busy host."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for ln in fh:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1]) / 1024
    return 0.0


def setup(work: str, in_dir: str, tables: tuple[str, ...], host: dict):
    """Start the engine as a user would; returns (spark, specs, timings).
    Everything the engine writes goes under ``work``."""
    dirs = {
        "SPARK_GRAFT_SCRATCH": "scratch",
        "SPARK_GRAFT_LAYOUT_CACHE": "layout",
        "SPARK_LOCAL_DIRS": "spark-local",
        "TMPDIR": "tmp",
    }
    for var, sub in dirs.items():
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cores"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = host["heap"]
    os.environ.pop("SPARK_GRAFT_MASTER", None)

    t0 = time.perf_counter()
    from toy_map_reduce_spark import tables as tables_mod
    from toy_map_reduce_spark.registry import all_specs
    from toy_map_reduce_spark.session import get_spark

    specs = all_specs()
    t1 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        cores=host["cores"],
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # A fixed heap: otherwise heap growth, and with it peak_rss_mb,
            # swings by a third between identical runs. A fixed young
            # generation of a quarter of it: G1 then reuses the same eden
            # regions, so the heap pages ever touched, and peak_rss_mb, grow
            # with the live data rather than fill the heap whatever the load.
            "spark.driver.defaultJavaOptions":
                f"-Xms{host['heap']} -Xmn{host['young']} "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )
    t2 = time.perf_counter()
    for t in tables:
        tables_mod._read_path(in_dir, t)
    t3 = time.perf_counter()
    layout = os.environ["SPARK_GRAFT_LAYOUT_CACHE"]
    written = sum(os.path.getsize(os.path.join(d, f))
                  for d, _, files in os.walk(layout) for f in files)
    return spark, specs, {
        "session.get_spark_s": t2 - t1,
        "tables.read_path_s": t3 - t2,
        "tables.layout_bytes_written": float(written),
    }


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM, and with it the Python
    workers, has exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def setup_probe(work: str, in_dir: str, tables: list[str]) -> int:
    """Child process: set up once, report the time, shut down."""
    spark, _, _ = setup(work, in_dir, tuple(tables), machine())
    setup_s = time.perf_counter() - _T_START
    stop_spark(spark)
    print(json.dumps({"setup_s": setup_s}))
    return 0


def fresh_setup_s(work: str, in_dir: str, tables: tuple[str, ...]) -> float:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--setup-probe", work, in_dir, *tables],
        capture_output=True, text=True, timeout=150, check=True, cwd=ROOT,
    )
    return float(json.loads(out.stdout.strip().splitlines()[-1])["setup_s"])


def canonical(pdf) -> tuple[int, str, list]:
    """(rows, order-insensitive digest, canonical rows) of a result frame."""
    from tests.parity import canonical_rows

    rows = canonical_rows(pdf)
    digest = hashlib.sha256(repr((sorted(pdf.columns), rows)).encode()).hexdigest()
    return len(rows), digest, rows


class Checker:
    """Compares results with the registry's DuckDB oracles over the same
    generated inputs, and later results with the first one."""

    def __init__(self, in_dir: str, tables: tuple[str, ...]):
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(in_dir, t + ".parquet")
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.first: dict[str, tuple[int, str]] = {}

    def check_first(self, spec, pdf) -> str | None:
        from tests.parity import fetch_oracle

        n, digest, rows = canonical(pdf)
        self.first[spec.name] = (n, digest)
        if spec.oracle is None:
            return None
        want = fetch_oracle(self.con, spec.oracle)
        if sorted(want.columns) != sorted(pdf.columns):
            return f"columns {sorted(pdf.columns)} differ from the oracle's {sorted(want.columns)}"
        if rows != canonical(want)[2]:
            return f"{n} rows differ from the oracle's {len(want)}"
        return None

    def check_again(self, name: str, pdf) -> str | None:
        n, digest, _ = canonical(pdf)
        first = self.first[name]
        if (n, digest) != first:
            return f"result changed between rounds ({first[0]} -> {n} rows)"
        return None

    def close(self) -> None:
        self.con.close()


def keep_first_and_last(rounds) -> None:
    """Drop every result but each query's first and last, the two that
    ``check`` reads."""
    first, last = set(), {}
    for o in (o for r in rounds for o in r.outcomes if o.ok):
        if o.name not in first:
            first.add(o.name)
            continue
        if o.name in last:
            last[o.name].result = None
        last[o.name] = o


def check(rounds, checker: Checker, specs, sink: str) -> None:
    """Each query's first result against its oracle, its last against the
    first; a wrong result marks that outcome failed."""
    def frame(result):
        if sink == "parquet":
            import pandas as pd

            return pd.read_parquet(result)
        return result

    last = {}
    for o in (o for r in rounds for o in r.outcomes if o.ok):
        if o.name not in checker.first:
            o.error = checker.check_first(specs[o.name], frame(o.result))
            o.result = None
        else:
            last[o.name] = o
    for name, o in last.items():
        o.error = checker.check_again(name, frame(o.result))
    for o in (o for r in rounds for o in r.outcomes):
        o.result = None
    checker.close()


def run(args) -> int:
    w = WORKLOADS[args.workload]
    host = machine()
    work = os.path.join(HERE, "_work", f"{w.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, w, host, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, w, host: dict, work: str) -> int:
    clients = min(w.clients or host["cores"], host["cores"])
    in_dir = os.path.join(work, "inputs")
    t0 = time.perf_counter()
    probes = [cpu_probe_s()]
    ticks = cpu_ticks()
    # in a child process, so that its memory stays out of peak_rss_mb
    subprocess.run(
        [sys.executable, os.path.join(HERE, "inputs.py"), in_dir, str(args.seed),
         str(w.rep), *w.tables],
        timeout=120, check=True, cwd=ROOT,
    )
    gen_s = time.perf_counter() - t0  # benchmark work, not part of set-up

    spark, specs, layer = setup(os.path.join(work, "main"), in_dir, w.tables, host)
    setup_main = time.perf_counter() - _T_START - gen_s
    from toy_map_reduce_spark.functions.ranks import release_scratch

    missing = [q for q in w.queries if q not in specs]
    if missing:
        raise SystemExit(f"perfbench: queries not in the registry: {missing}")

    tracer = None
    if args.trace:
        from tracing import Tracer, wrap_load

        tracer = Tracer()
        wrap_load(tracer)

    sc = spark.sparkContext
    round_no = [-1]  # -1: the warm-up round

    def materialize(name: str, df):
        if w.sink == "parquet":
            # a directory per round: results are checked after the last one
            path = os.path.join(work, "out", str(round_no[0]), name)
            df.write.parquet(path)
            return path
        return df.toPandas()

    def execute(name: str):
        return materialize(name, specs[name].builder(spark, in_dir))

    def execute_traced(name: str):
        from tracing import group_counters, wait_for_listeners

        group = f"perfbench-{round_no[0]}-{name}"
        sc.setJobGroup(group, name, False)
        with tracer.span("query", query=name, round=round_no[0]) as qs:
            with tracer.span("build"):
                df = specs[name].builder(spark, in_dir)
            with tracer.span("plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("exec"):
                result = materialize(name, df)
        with tracer.span("tracing", query=name, round=round_no[0]):
            wait_for_listeners(spark)
            qs.attrs.update(group_counters(spark, group))
        return result

    rng = random.Random(args.seed)

    def next_order() -> list[str]:
        order = list(w.queries)
        if w.seeded_order:
            rng.shuffle(order)
        return order

    phases = {"inputs": gen_s, "setup": setup_main}
    t_phase = time.perf_counter()
    warm = []
    if w.warm_up:
        warm.append(run_round(next_order(), clients, execute))
        release_scratch()
    phases["warm_up"] = time.perf_counter() - t_phase

    t_phase = time.perf_counter()
    rounds: list[Round] = []
    deadline = time.perf_counter() + args.seconds
    while another_round(len(rounds), len(w.queries), time.perf_counter() < deadline, w.rounds):
        round_no[0] = len(rounds)
        rounds.append(run_round(next_order(), clients, execute_traced if tracer else execute))
        release_scratch()  # no query is in flight between rounds
        keep_first_and_last(warm + rounds)
    phases["measure"] = time.perf_counter() - t_phase

    # Memory is read before the checks, which run DuckDB in this process.
    rss = {"driver": vm_hwm_mb(os.getpid()), "jvm": vm_hwm_mb(sc._gateway.proc.pid)}
    t_phase = time.perf_counter()
    check(warm + rounds, Checker(in_dir, w.tables), specs, w.sink)
    stop_spark(spark)
    phases["check_stop"] = time.perf_counter() - t_phase

    t_phase = time.perf_counter()
    setups = [setup_main] + [
        fresh_setup_s(os.path.join(work, f"setup{i}"), in_dir, w.tables)
        for i in range(1, SETUP_REPEATS)
    ]
    phases["fresh_setups"] = time.perf_counter() - t_phase

    probes.append(cpu_probe_s())
    steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
    summary = summarize(rounds)
    outcomes = [o for r in warm + rounds for o in r.outcomes]
    failed = [o for o in outcomes if not o.ok]
    frac = failed_frac(warm + rounds)

    if tracer:
        values = layer_metrics(tracer, layer, rounds, host["cores"], specs, w.sink)
        units = PER_LAYER
        os.makedirs(os.path.join(HERE, "_traces"), exist_ok=True)
        tracer.dump(os.path.join(HERE, "_traces", f"{w.name}-{args.seed}.jsonl"))
    else:
        values = {
            "setup_s": statistics.median(setups),
            "wall_s": summary["wall_s"],
            "queries_per_s": summary["queries_per_s"],
            "latency_p50_s": summary["latency_p50_s"],
            "latency_p90_s": summary["latency_p90_s"],
            "peak_rss_mb": rss["driver"] + rss["jvm"],
        }
        units = END_TO_END

    info = {
        "workload": w.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, **host, "clients": clients,
        "queries": len(w.queries), "warm_up_round": w.warm_up,
        "measured_rounds": len(rounds),
        "latency_samples": summary["latency_samples"],
        "latency_tail_percentile": summary["latency_tail_percentile"],
        "failed_frac": frac,
        "setup_samples_s": setups,
        "peak_rss_mb": rss,
        "cpu_probe_s": probes,
        "steal_frac": steal / total if total else 0.0,
        "phase_s": {k: round(v, 2) for k, v in phases.items()},
        "query_median_s": per_query_median(rounds),
    }
    print(json.dumps({"info": info}))
    for o in failed:
        print(f"failed: {o.name}: {o.error}", file=sys.stderr)
    for name, unit in units.items():
        print(f"{w.name} {name} {values[name]:.6g} {unit}")
    print(f"{w.name} failed_frac {frac:.6g} ratio ({len(failed)}/{len(outcomes)})")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(outcomes),
        "failed": len(failed),
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }))
    return 0


def per_query_median(rounds) -> dict[str, float]:
    times: dict[str, list[float]] = {}
    for r in rounds:
        for o in r.outcomes:
            times.setdefault(o.name, []).append(o.latency_s)
    return {n: round(statistics.median(t), 4) for n, t in sorted(times.items())}


def layer_metrics(tracer, layer: dict, rounds, cores: int, specs, sink: str) -> dict:
    """Per-layer figures, each the mean per measured (traced) round."""
    from tracing import COUNTERS

    selfs = tracer.self_times()
    kids: dict[int | None, list] = {}
    for s in tracer.spans:
        kids.setdefault(s.parent, []).append(s)

    def below(span, name: str) -> list:
        found = []
        for c in kids.get(span.id, []):
            found += [c] if c.name == name else []
            found += below(c, name)
        return found

    top = kids.get(None, [])
    queries = [s for s in top if s.name == "query"]
    spans = {"query": queries}
    for name, key in (("build", "build"), ("tables.load", "load"), ("plan", "plan"),
                      ("exec", "exec")):
        spans[key] = [x for q in queries for x in below(q, name)]
    n = len(rounds)

    out = dict(layer)
    out["tables.load_calls"] = len(spans["load"]) / n
    out["tables.load_s"] = sum(x.duration for x in spans["load"]) / n
    out["registry.build_s"] = sum(x.duration for x in spans["build"]) / n
    out["registry.build_p50_s"] = percentile([x.duration for x in spans["build"]], 50.0)
    out["plan.plan_s"] = sum(x.duration for x in spans["plan"]) / n
    out["exec.exec_s"] = sum(x.duration for x in spans["exec"]) / n
    for c in COUNTERS:
        out[f"exec.{c}"] = sum(q.attrs.get(c, 0.0) for q in queries) / n
    out["exec.executor_nonjvm_s"] = out["exec.executor_run_s"] - out["exec.executor_cpu_s"]
    out["exec.core_busy_frac"] = statistics.mean(
        sum(q.attrs.get("executor_run_s", 0.0) for q in queries if q.attrs["round"] == i)
        / (r.wall_s * cores)
        for i, r in enumerate(rounds)
    )
    out["exec.stage_reuse_frac"] = (
        out["exec.stages_skipped"] / out["exec.stages"] if out["exec.stages"] else 0.0
    )
    streaming = [q.duration for q in queries if specs[q.query].tier == "S"]
    out["streaming.latency_p50_s"] = percentile(streaming, 50.0) if streaming else 0.0
    for key, group in spans.items():
        out[f"self.{key}_s"] = sum(selfs[x.id] for x in group) / n
    # Work an untraced run does not do: the status-store reads and, for a
    # parquet sink, the forced plan, which the write then plans again.
    overhead = sum(s.duration for s in top if s.name == "tracing")
    if sink == "parquet":
        overhead += sum(x.duration for x in spans["plan"])
    out["trace.overhead_s"] = overhead / n
    out["trace.overhead_frac"] = overhead / sum(o.latency_s for r in rounds for o in r.outcomes)
    return out


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def main(argv: list[str]) -> int:
    for needed in ("toy_map_reduce_spark/registry.py", "tests/parity.py"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found; run from the root of a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    if argv[:1] == ["--setup-probe"]:
        return setup_probe(argv[1], argv[2], argv[3:])
    return run(parse_args(argv))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
