#!/usr/bin/env python3
"""Pipeline and query-walk benchmark.

    python3 perfbench/run.py --workload cron_large_dw --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The run builds the engine if needed
(`build.py`), generates its inputs from the seed (`gen.py`), runs one JVM
for the workload, checks every output against the generator's model and
the DuckDB oracles (`checks.py`), prints one JSON result as the last line
of stdout, and deletes everything it created. It exits 1 when a check
fails. See README.md for the workloads and the metrics.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

# workload -> scale of the tables its query walk reads, None for no walk.
# query_walk's cycles run a small file-storm pipeline, so it reports the
# pipeline metrics too.
WORKLOADS = {"cron_large_dw": None, "query_walk": 0.1}
# `--seconds` sets the amount of timed work, never its duration: one cycle
# per CYCLE_S and one walk pass per PASS_S of it (about the rates of 4
# vCPUs), so that a faster program times the same drops against the same
# DW, and the same walk.
CYCLE_S, PASS_S = 3.3, 10.0
# Consumer reads after each cycle, plus one full aggregate. Key lookups
# are the most numerous kind, so the median read falls inside one kind
# rather than on the boundary between two.
MONTH_READS_RECENT, MONTH_READS_OLD, KEY_READS = 1, 1, 4
DEADLINE_S = 170  # a run must end within 180 s

# (name, unit, better, bound). The timed metrics take the largest bound:
# on a shared host, steal moves whole runs by 20 % and more (README.md).
# The byte figures barely move between runs.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("cycle_s_p50", "s", "lower", 0.25),
    ("freshness_s_p50", "s", "lower", 0.25),
    ("write_bytes_per_row", "B", "lower", 0.1),
    ("dw_bytes_per_row", "B", "lower", 0.1),
    ("dw_read_s_p50", "s", "lower", 0.25),
    ("walk_s", "s", "lower", 0.25),
    ("query_s_p50", "s", "lower", 0.25),
]

QUERY_GROUPS = [
    "EtlQueries", "Relational", "Relational2", "Relational3", "TextOps",
    "DedupOps", "SimilarityOps", "MultimodalOps", "CorpusOps", "PrivacyOps",
    "FunnelOps", "RobustStatsOps", "DiagOps", "GraphOps", "PqOps",
    "CatalogOps", "UnigramOps", "LmOps", "CurationOps", "SketchOps",
    "CorpusStatsOps"]

PER_LAYER = [
    ("ingest.busy_s", "s", "lower"), ("ingest.files", "count", "higher"),
    ("ingest.bytes", "B", "higher"),
    ("load.busy_s", "s", "lower"), ("load.jobs", "count", "lower"),
    ("load.jobs_per_file", "ratio", "lower"), ("load.task_util", "ratio", "higher"),
    ("load.rows", "count", "higher"), ("load.files_quarantined", "count", "higher"),
    ("load.staging_files_written", "count", "lower"),
    ("upsert.busy_s", "s", "lower"), ("upsert.driver_s", "s", "lower"),
    ("upsert.jobs", "count", "lower"), ("upsert.task_util", "ratio", "higher"),
    ("upsert.shuffle_bytes", "B", "lower"), ("upsert.spill_bytes", "B", "lower"),
    ("upsert.bytes_written", "B", "lower"),
    ("upsert.partitions_rewritten", "count", "lower"),
    ("upsert.rows_written_per_key", "ratio", "lower"),
    ("compact.busy_s", "s", "lower"), ("compact.files_before", "count", "lower"),
    ("compact.bytes_rewritten", "B", "lower"),
    ("archive.busy_s", "s", "lower"), ("archive.rows_moved", "count", "higher"),
    ("archive.bytes_written", "B", "lower"),
    ("read.busy_s", "s", "lower"), ("read.p90_s", "s", "lower"),
    ("read.files_scanned", "count", "lower"),
    ("read.rows_scanned_per_row_returned", "ratio", "lower"),
    ("q.build_s", "s", "lower"), ("q.action_s", "s", "lower"),
    ("q.jobs", "count", "lower"), ("q.tasks", "count", "lower"),
    ("q.task_util", "ratio", "higher"), ("q.shuffle_bytes", "B", "lower"),
    ("q.spill_bytes", "B", "lower"), ("q.plan_nodes", "count", "lower"),
    ("q.cache_bytes", "B", "lower"),
] + [(f"q.{g}.busy_s", "s", "lower") for g in QUERY_GROUPS] + [
    ("jvm.gc_s", "s", "lower"), ("jvm.jit_s", "s", "lower"),
    ("jvm.live_heap_mb", "MB", "lower"),
    ("host.steal_frac", "ratio", "lower"), ("trace.overhead_s", "s", "lower"),
]


def median(values):
    values = list(values)
    return statistics.median(values) if values else 0.0


def p90(values):
    s = sorted(values)
    return s[max(0, -(-9 * len(s) // 10) - 1)] if s else 0.0


def cpu_jiffies():
    """(steal, total) jiffies over all CPUs; zeros without /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except OSError:
        return 0, 0


def plan_reads(workload, setup, drops, seed):
    """Choose each round's consumer reads from the model state after that
    round, and the answer each must return; note the months each drop
    touches. Returns (tsv lines, expected, touched months per round)."""
    rng = random.Random(f"reads:{workload}:{seed}")
    m = gen.Model()
    m.apply(setup)
    lines, expected, touched = [], [], []
    for i, d in enumerate(drops):
        touched.append(gen.drop_months(d, m))
        m.apply(d)
        months = m.months()
        order = sorted(months)
        ms = order[-MONTH_READS_RECENT:] + rng.sample(
            order[:-MONTH_READS_RECENT], MONTH_READS_OLD)
        fresh = sorted({r[0] for f in d for r in f["rows"]})
        ks = rng.sample(fresh, KEY_READS - 1) + [rng.randrange(1, max(m.dw) + 1)]
        lines.append(f"{i}\t{','.join(ms)}\t{','.join(gen.chave(k) for k in ks)}")
        exp = {("month", x): {"": months[x]} for x in ms}
        exp.update({("key", gen.chave(k)): {"": (1, m.dw[k][0])} for k in ks})
        exp[("full", "")] = months
        expected.append(exp)
    return lines, expected, touched


def run_jvm(jar, work, args, deadline):
    cmd = build.java(jar, work / "tmp", f"-XX:SharedArchiveFile={build.archive(jar)}",
                     "graft.perfbench.PerfBench", args)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep its scratch
    # inside the run's directory
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    with open(work / "jvm.log", "wb") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work, env=env)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.monotonic()))
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not (work / "result.json").exists():
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        raise RuntimeError(f"benchmark JVM exited {rc}:\n{tail}")
    return json.loads((work / "result.json").read_text())


def evaluate(res, setup, drops, expected_reads, tables, work, walk):
    """Check every output; return (attempted, failed, mismatches, model)."""
    cycles, reads = res["cycles"], res["reads"]
    queries = [q for p in res["passes"] for q in p]
    failures = []
    failed = 0
    for rec in cycles:
        errs = checks.check_cycle(rec, drops[rec["round"]])
        failed += bool(errs)
        failures += errs
    for rec in reads:
        errs = checks.check_read(rec, expected_reads[rec["round"]][(rec["kind"], rec["arg"])])
        failed += bool(errs)
        failures += errs
    done = sum(1 for c in cycles if c.get("ok"))
    model = gen.model_after(setup, drops, done)
    pipe = res["pipe"]
    end_state = (checks.check_dw(os.path.join(pipe, "dw"), model)
                 + checks.check_hist(os.path.join(pipe, "hist"), model)
                 + checks.check_staging_empty(os.path.join(pipe, "staging"))
                 + checks.check_routing(pipe, model))
    if end_state:
        failed += 1  # the last cycle left a wrong state behind
    failures += end_state
    if queries:
        spill = work / "duckdb_spill"
        spill.mkdir(exist_ok=True)
        oracle = checks.oracle_counts(tables, res["oracle"], str(spill))
        for rec in queries:
            errs = checks.check_query(rec, oracle.get(rec["name"]))
            failed += bool(errs)
            failures += errs
    attempted = len(cycles) + len(reads) + len(queries)
    if not any(c.get("timed") for c in cycles):
        failures.append("no timed cycle ran")
    if walk and not queries:
        failures.append("no walk pass ran")
    return attempted, failed, failures, model


def end_to_end_values(res, model):
    """name -> (value, sample count) for every end-to-end figure."""
    cycles = [c for c in res["cycles"] if c.get("ok") and c["timed"]]
    reads = [r for r in res["reads"] if r.get("ok") and r["timed"]]
    read_s = [r["s"] for r in reads]
    rows = sum(c["load_rows"] for c in cycles)
    if res["passes"]:
        per_pass = [[q["build_s"] + q["action_s"] for q in p] for p in res["passes"]]
        walk = [sum(p) for p in per_pass]
        qs = [t for p in per_pass for t in p]
    else:
        # a pipeline workload's walk is its consumer-read walk after each cycle
        walk = [sum(r["s"] for r in reads if r["round"] == c["round"]) for c in cycles]
        qs = read_s
    return {
        "setup_s": (res["setup_s"], 1),
        "cycle_s_p50": (median(c["cycle_s"] for c in cycles), len(cycles)),
        "freshness_s_p50": (median(c["freshness_s"] for c in cycles), len(cycles)),
        "write_bytes_per_row": (res["cycle_bytes_written"] / max(1, rows), len(cycles)),
        "dw_bytes_per_row": (res["dw_bytes"] / max(1, len(model.dw)), res["dw_files"]),
        "dw_read_s_p50": (median(read_s), len(read_s)),
        "walk_s": (median(walk), len(walk)),
        "query_s_p50": (median(qs), len(qs)),
        # printed, not kept: a run makes fewer than 100 reads
        "dw_read_s_p90": (p90(read_s), len(read_s)),
        # printed, not kept: it did not repeat within a tenth on query_walk
        # (jvm.live_heap_mb in the traced run)
        "live_heap_mb": (res["live_heap_mb"], 1 + len(res["passes"])),
    }


def metrics_traced(res, drops, steal_frac):
    lay = dict(res["layers"])
    timed = [c for c in res["cycles"] if c.get("ok") and c["timed"]]
    reads = [r for r in res["reads"] if r.get("ok") and r["timed"]]
    keys = median(len({r[0] for f in drops[c["round"]] for r in f["rows"]}) for c in timed)
    lay["load.jobs_per_file"] = lay.get("load.jobs", 0) / max(1e-9, lay.get("load.files", 0))
    lay["upsert.rows_written_per_key"] = lay.get("upsert.records_written", 0) / max(1, keys)
    lay["read.p90_s"] = p90(r["s"] for r in reads)
    lay["read.files_scanned"] = lay.get("read.files_scanned", 0) / max(1, len(reads))
    lay["read.rows_scanned_per_row_returned"] = \
        lay.get("read.rows_scanned", 0) / max(1, lay.get("read.rows_returned", 0))
    lay["jvm.gc_s"] = res["gc_s"]
    lay["jvm.jit_s"] = res["jit_s"]
    lay["jvm.live_heap_mb"] = res["live_heap_mb"]
    lay["host.steal_frac"] = steal_frac
    return {name: (lay.get(name, 0.0), None) for name, *_ in PER_LAYER}


def span_summary(res):
    """Self time per span name: the span's time minus its children's."""
    spans = res["spans"]
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    out = {}
    for s in spans:
        name = "query" if s["name"].startswith("query:") else s["name"]
        own = s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)
        out[name] = out.get(name, 0) + own / 1e9
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))


def cycle_report(res, touched):
    """Per cycle: wall time, host steal in it, the consumer reads after it
    (kind: seconds), months the drop touched and partitions the upsert
    rewrote (traced runs only)."""
    out, prev = [], None
    for c in res["cycles"]:
        if not c.get("ok"):
            continue
        steal = None
        if prev is not None and c["cpu_jiffies"] > prev["cpu_jiffies"]:
            steal = round((c["steal_jiffies"] - prev["steal_jiffies"])
                          / (c["cpu_jiffies"] - prev["cpu_jiffies"]), 4)
        out.append({"round": c["round"], "timed": c["timed"],
                    "cycle_s": round(c["cycle_s"], 3), "steal_frac": steal,
                    "reads_s": [f"{r['kind']}: {r['s']:.3f}" for r in res["reads"]
                                if r["round"] == c["round"] and r.get("ok")],
                    "months_touched": len(touched[c["round"]]),
                    "partitions_rewritten": len(c["partitions_rewritten"]) or None})
        prev = c
    return out


def halves(values):
    """Medians of the first and second half of a sequence."""
    h = len(values) // 2
    return [median(values[:h]), median(values[h:])] if h else [median(values)] * 2


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.monotonic()
    jiffies0 = cpu_jiffies()
    deadline = t_start + DEADLINE_S
    scale = WORKLOADS[a.workload]
    phases = {}
    root = Path.cwd()
    jar = build.build(root)
    phases["build_s"] = time.monotonic() - t_start
    work = root / ".bench_work" / f"{a.workload}-{os.getpid()}"
    try:
        work.mkdir(parents=True)
        cycles = max(1, round(a.seconds / CYCLE_S))
        passes = max(1, round(a.seconds / PASS_S)) if scale else 0
        setup, drops = gen.generate_drops(a.seed, a.workload, str(work / "drops"), cycles)
        read_lines, expected_reads, touched = plan_reads(a.workload, setup, drops, a.seed)
        (work / "reads.tsv").write_text("\n".join(read_lines) + "\n")
        tables = str(work / "tables")
        if scale:
            gen.generate_tables(a.seed, tables, scale)
        phases["generate_s"] = time.monotonic() - t_start - sum(phases.values())
        res = run_jvm(jar, work, [
            "--work", str(work), "--passes", str(passes),
            "--warmup", str(gen.SHAPES[a.workload]["warmup"]),
            "--trace", str(a.trace)],
            deadline)
        phases["jvm_s"] = time.monotonic() - t_start - sum(phases.values())
        attempted, failed, failures, model = evaluate(
            res, setup, drops, expected_reads, tables, work, walk=bool(scale))
        phases["check_s"] = time.monotonic() - t_start - sum(phases.values())
        jiffies1 = cpu_jiffies()
        steal_frac = (jiffies1[0] - jiffies0[0]) / max(1, jiffies1[1] - jiffies0[1])
        # the end-to-end figures are printed in both modes: the traced run's
        # against the untraced run's is the tracing overhead
        values = end_to_end_values(res, model)
        timed = [c["cycle_s"] for c in res["cycles"] if c.get("ok") and c["timed"]]
        details = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "samples": {k: n for k, (_, n) in values.items()},
            "values": {k: v for k, (v, _) in values.items()},
            "setup_phases_s": res["setup_phases"],
            "timed_cycle_halves_s": halves(timed),
            "walk_s": [{q["name"]: round(q["build_s"] + q["action_s"], 3) for q in p}
                       for p in res["passes"]],
            "jvm": {"jit_s": res["jit_s"], "gc_s": res["gc_s"]},
            "host": {"cores": res["cores"], "steal_frac": round(steal_frac, 4),
                     "timed_steal_frac": round(res["steal_jiffies"]
                                               / max(1, res["cpu_jiffies"]), 4)},
            "cycles": cycle_report(res, touched),
            "phases_s": phases,
        }
        if a.trace:
            metrics = metrics_traced(res, drops, steal_frac)
            units = {n: u for n, u, _ in PER_LAYER}
            details["span_self_s"] = span_summary(res)
        else:
            metrics = {n: values[n] for n, *_ in END_TO_END}
            units = {n: u for n, u, *_ in END_TO_END}
        print(json.dumps(details))
        for f in failures[:20]:
            print(f"MISMATCH {f}", file=sys.stderr)
        correct = not failures
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, (v, _) in metrics.items()},
        }))
        sys.stdout.flush()
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (root / ".bench_work").rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
