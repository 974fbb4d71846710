#!/usr/bin/env python3
"""graft benchmark: one workload, one measured JVM, one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                           [--ledger <file>]

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed in one generator process, runs the
measured JVM (perfbench/harness) with a private /tmp and scratch root,
checks every output (perfbench/check.py) and prints as its last stdout
line {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones
(see perfbench/README.md). --ledger writes the traced run's per-layer
table to a file.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import check  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
CORES = 4
CDI_FIRST_EXPORT = "2021-06-10"

# inputs per workload; see README.md for why each is sized as it is. The
# query workloads get only the tables their queries read, and count only
# those rows in records_per_s.
TPCH = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
WORKLOADS = {
    "cdi_daily": {"days": 2, "records": 2000, "audit_records": 400},
    "llm_corpus": {"scale": 0.05, "tables": ["documents"]},
    "analytics_sf01": {"scale": 0.1, "tables": TPCH + ["events"]},
    "stream_upsert": {"scale": 0.05, "tables": ["documents", "events"]},
}

END_TO_END = {"setup_s": "s", "pass_s": "s", "records_per_s": "records/s", "query_s.p50": "s"}

# layers whose spans nest; query families have no child spans, so their
# self time is their <family>.query_s
LAYERS = ["pipeline.Envelope", "pipeline.KeyService", "pipeline.Ingest", "pipeline.Snapshot",
          "pipeline.Orchestration"]
SPARK_COUNTERS = ["spark.analysis_ms", "spark.optimization_ms", "spark.planning_ms",
                  "spark.codegen.compiles", "spark.codegen.compile_ms", "spark.jobs",
                  "spark.stages", "spark.tasks", "spark.scheduler_delay_s", "spark.task_cpu_s",
                  "spark.task_run_s", "spark.gc_s", "spark.shuffle_write_bytes",
                  "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.input_bytes",
                  "spark.output_bytes"]
PROBES = ["pipeline.Envelope.parse_s", "pipeline.Envelope.records", "pipeline.Envelope.malformed",
          "functions.AesCtr.decrypt_us", "functions.UcJson.validate_us",
          "functions.UcJson.sanitise_us", "functions.UcJson.canonicalize_us",
          "functions.UcJson.transform_audit_us", "pipeline.Ingest.process_s", "pipeline.Ingest.rows_written",
          "pipeline.Ingest.bytes_written", "pipeline.Ingest.files_written",
          "pipeline.Snapshot.rows_in", "pipeline.Snapshot.rows_out",
          "pipeline.Snapshot.bytes_written", "pipeline.Orchestration.hive_rows"]
FAMILIES = ["queries", "operators.Dedup", "operators.Text", "operators.Ann",
            "multimodal.Multimodal", "streaming"]
# per-layer metrics whose higher value is better; every other one is
# better lower (times, bytes, jobs, files, shares of overhead)
HIGHER = {"pipeline.Envelope.records", "pipeline.Ingest.rows_written", "pipeline.Snapshot.rows_in",
          "pipeline.Snapshot.rows_out", "pipeline.Orchestration.hive_rows", "streaming.batches",
          "streaming.input_rows", "query_s.samples", "query_s.tail_pct", "batch_s.samples",
          "batch_s.tail_pct", "spark.cpu_util", "ledger.execution_share"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_checked(cmd, timeout, **kw):
    """Runs a child in its own process group; kills the group on timeout,
    and on SIGTERM or SIGINT of this process."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"perfbench: stopped by signal {signum}")

    previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"perfbench: {cmd[0]} timed out after {timeout:.0f}s")
    finally:
        for s, h in previous.items():
            signal.signal(s, h)
    if p.returncode != 0:
        raise SystemExit(f"perfbench: {' '.join(map(str, cmd[:6]))} ... exited {p.returncode}")
    return out


def generate(workload, seed, run_dir):
    """Makes the workload's inputs in one generator process."""
    spec = WORKLOADS[workload]
    inp = run_dir / "input"
    if workload == "cdi_daily":
        gen_cp = str(build.build_dir() / "gen")
        out = run_checked(["java", "-XX:-UsePerfData", "-cp", gen_cp, "EnvelopeGen", str(seed), str(inp),
                           CDI_FIRST_EXPORT, str(spec["days"]), str(spec["records"]),
                           str(spec["audit_records"])], 120, stdout=subprocess.PIPE)
    else:
        out = run_checked([sys.executable, str(BENCH / "gen_tables.py"), "--seed", str(seed),
                           "--scale", str(spec["scale"]), "--tables", ",".join(spec["tables"]),
                           "--out", str(inp)], 120,
                          stdout=subprocess.PIPE)
        (inp / "tables.json").write_bytes(out)
    return json.loads(out)


def require_private_mounts(probe):
    """Stops the run unless the JVM can get a private /tmp and scratch
    through a user and mount namespace: without them the program's /tmp
    artifacts would be shared between set-ups and runs, and the figures
    would not compare with those of a private run."""
    ok = shutil.which("unshare") and subprocess.run(
        ["unshare", "-Urm", "sh", "-c", PRIVATE_MOUNTS + " && true", "sh", str(probe)],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).returncode == 0
    if not ok:
        raise SystemExit("perfbench: needs `unshare -Urm` (user and mount namespaces) "
                         "for a private /tmp and scratch root")


# In the JVM's namespace the work dir is a memory file system (scratch
# I/O does not add disk noise to the timings) and /tmp is its tmp/, so
# the program's hard-coded /tmp/graft_* artifacts stay inside the run
# and vanish with it. Shell arguments: $1 = work dir, then the command.
PRIVATE_MOUNTS = ('mount -t tmpfs -o size=2g perfbench "$1" && mkdir "$1/tmp" '
                  '&& mount --bind "$1/tmp" /tmp')


def run_jvm(args, run_dir, cp, timeout):
    work = run_dir / "work"
    out = run_dir / "out"
    probe = run_dir / "probe"
    for d in (work, out, probe):
        d.mkdir(parents=True)
    require_private_mounts(probe)
    archive = build.build_dir() / "classes.jsa"
    share = [f"-XX:SharedArchiveFile={archive}"] if archive.exists() else []
    cmd = ["unshare", "-Urm", "sh", "-c", PRIVATE_MOUNTS + ' && shift && exec "$@"', "sh",
           str(work), "java", *build.JVM_OPTS, *share, f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-cp", os.pathsep.join(map(str, cp)), "perfbench.Harness", args.workload,
           str(run_dir / "input"), str(work), str(out), str(args.seconds), str(args.trace),
           str(args.seed)]
    try:
        with open(run_dir / "jvm.log", "wb") as jl:
            run_checked(cmd, timeout, stdout=jl, stderr=subprocess.STDOUT)
    except SystemExit:
        kept = build.build_dir() / "failed_jvm.log"
        shutil.copyfile(run_dir / "jvm.log", kept)
        lines = kept.read_text(errors="replace").splitlines()
        told = [x for x in lines if x.startswith("[harness]") or "Exception" in x][-20:]
        log(f"measured JVM failed (full log: {kept}):\n" + "\n".join(told))
        raise
    else:
        for line in (run_dir / "jvm.log").read_text(errors="replace").splitlines():
            if line.startswith("[harness]"):
                log(line)
    return json.loads((out / "result.json").read_text())


def tail_pct(values):
    """(p50, highest percentile with >= 10 samples beyond it, that percentile, n)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0.0, 0
    pct = next((p for p in (99, 95, 90, 75, 50) if n * (100 - p) / 100 >= 10), 50)
    return statistics.median(xs), xs[min(n - 1, int(n * pct / 100))], float(pct), n


def checks(args, res, run_dir):
    """(attempted, failed, failure messages) over every operation of the run."""
    passes = res["passes"]
    attempted = sum(len(p["ops"]) for p in passes)
    failed = sum(1 for p in passes for o in p["ops"] if not o["ok"])
    msgs = [f'{o["name"]}: {o["error"]}' for p in passes for o in p["ops"] if not o["ok"]]
    if args.workload == "cdi_daily":
        truth = json.loads((run_dir / "input" / "truth.json").read_text())
        dates = len(truth["collections"][0]["dates"])
        for s in res["summaries"]:
            fails = check.cdi_check(s, truth)
            msgs += [f'{s["pass"]}: {f}' for f in fails]
            failed += dates * len({f.split()[0] for f in fails})
    else:
        warm = passes[0]
        names = [o["name"] for o in warm["ops"] if o["ok"]]
        oracle = check.oracle_check(run_dir / "input", run_dir / "out" / "queries", names)
        bad = {n for n, f in oracle.items() if f}
        msgs += [m for f in oracle.values() for m in f]
        rows = {o["name"]: o["rows"] for o in warm["ops"]}
        for p in passes:
            for o in p["ops"]:
                if o["ok"] and (o["name"] in bad or o["rows"] != rows.get(o["name"])):
                    failed += 1
                    if o["name"] not in bad:
                        msgs.append(f'{o["name"]}: {o["rows"]} rows != {rows.get(o["name"])}')
    return attempted, min(failed, attempted), msgs


def end_to_end(res):
    timed = [p for p in res["passes"] if not p["warm"] and not p["traced"]]
    pass_s = statistics.median(p["seconds"] for p in timed)
    ops = [o["s"] for p in timed for o in p["ops"]]
    return {
        "setup_s": statistics.median(res["setups_s"]),
        "pass_s": pass_s,
        "records_per_s": res["records_per_pass"] / pass_s,
        "query_s.p50": statistics.median(ops),
    }


def covered_s(span, spans):
    """Seconds of `span` covered by the union of its children's intervals."""
    kids = sorted((c["start_ns"], c["end_ns"]) for c in spans if c["parent"] == span["id"])
    total, end = 0, None
    for a, b in kids:
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e9


def per_layer(res, attempted, failed):
    doc = json.loads(Path(res["spans_file"]).read_text())
    spans = doc["spans"]
    counters = {int(k): v for k, v in doc["counters"].items()}
    passes = [s for s in spans if s["layer"] == "pass"]
    n = max(1, len(passes))
    dur = {s["id"]: (s["end_ns"] - s["start_ns"]) / 1e9 for s in spans}
    self_s = {s["id"]: dur[s["id"]] - covered_s(s, spans) for s in spans}

    def total(key, ids=None):
        return sum(c.get(key, 0.0) for i, c in counters.items() if ids is None or i in ids)

    def span_sum(pred, values):
        return sum(values[s["id"]] for s in spans if pred(s)) / n

    untraced = [p["seconds"] for p in res["passes"] if not p["warm"] and not p["traced"]]
    traced = [p["seconds"] for p in res["passes"] if not p["warm"] and p["traced"]]
    traced_pass = statistics.median(traced)
    m = {f"{layer}.self_s": span_sum(lambda s, l=layer: s["layer"] == l, self_s) for layer in LAYERS}
    m.update({k: total(k) / n for k in SPARK_COUNTERS})
    m["spark.cpu_util"] = m["spark.task_cpu_s"] / (traced_pass * CORES)
    for fam in FAMILIES:
        m[f"{fam}.query_s"] = span_sum(lambda s, f=fam: s["layer"] == f, dur)
    m["pipeline.KeyService.resolve_s"] = span_sum(lambda s: s["name"] == "withDataKeys", dur)
    m["pipeline.KeyService.keys_resolved"] = (
        total("pipeline.KeyService.keys_resolved") / max(1.0, total("pipeline.KeyService.calls")))
    m["pipeline.Ingest.write_daily_s"] = span_sum(lambda s: s["name"] == "writeDaily", dur)
    m["pipeline.Snapshot.merge_s"] = span_sum(lambda s: s["name"] == "update", dur)
    m["pipeline.Snapshot.shuffle_bytes"] = total(
        "spark.shuffle_write_bytes", {s["id"] for s in spans if s["name"] == "update"}) / n
    m["pipeline.Orchestration.export_to_hive_s"] = span_sum(lambda s: s["name"] == "exportToHive", dur)
    m["pipeline.Orchestration.status_transitions"] = (
        total("pipeline.Orchestration.status_transitions") / n)
    m["multimodal.Multimodal.tmp_files_created"] = total("multimodal.Multimodal.tmp_files_created") / n
    for k in ("batches", "input_rows", "state_rows", "state_bytes", "commit_ms"):
        m[f"streaming.{k}"] = total(f"streaming.{k}") / n
    m.update({k: float(res["layers"].get(k, 0.0)) for k in PROBES})
    ops = [o["s"] for p in res["passes"] if not p["warm"] and not p["traced"] for o in p["ops"]]
    _, m["query_s.tail"], m["query_s.tail_pct"], m["query_s.samples"] = tail_pct(ops)
    (m["batch_s.p50"], m["batch_s.tail"], m["batch_s.tail_pct"],
     m["batch_s.samples"]) = tail_pct([b / 1000.0 for b in doc["batch_ms"]])
    m["failed_frac"] = failed / attempted
    last = res["summaries"][-1]
    m["stored_bytes_per_input_byte"] = (
        last["stored_bytes"] / last["input_bytes"] if "stored_bytes" in last else 0.0)
    # per-layer rather than end-to-end: G1's heap sizing moves it by a
    # third between runs of the same input
    m["peak_rss_mb"] = res["peak_rss_mb"]
    m["trace.untraced_pass_s"] = statistics.median(untraced)
    m["trace.traced_pass_s"] = traced_pass
    m["trace.overhead_frac"] = traced_pass / statistics.median(untraced) - 1.0
    m["trace.unattributed_s"] = span_sum(lambda s: s["layer"] == "pass", self_s)
    # where a traced pass's wall time goes, as shares of it; task-side
    # seconds are spread over the cores
    m["ledger.plan_share"] = (m["spark.analysis_ms"] + m["spark.optimization_ms"]
                              + m["spark.planning_ms"]) / 1000.0 / traced_pass
    m["ledger.codegen_share"] = m["spark.codegen.compile_ms"] / 1000.0 / traced_pass
    m["ledger.scheduling_share"] = m["spark.scheduler_delay_s"] / CORES / traced_pass
    m["ledger.execution_share"] = m["spark.task_run_s"] / CORES / traced_pass
    return m


UNITS = {"_s": "s", "_ms": "ms", "_us": "us", "_bytes": "bytes", "bytes_written": "bytes",
         "_share": "ratio", "_frac": "ratio", "_util": "ratio", "_pct": "%", ".tail": "s",
         "_per_input_byte": "ratio", ".p50": "s", "_mb": "MB"}


def unit_of(name):
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ledger")
    args = ap.parse_args()
    t_start = time.monotonic()
    cp = build.build()
    built_s = time.monotonic() - t_start
    run_dir = build.build_dir() / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        gen_info = generate(args.workload, args.seed, run_dir)
        log(f"inputs: {json.dumps(gen_info)}")
        # 180 s per run, more when this run also compiled the program
        budget = (900.0 if built_s > 5 else 175.0) - (time.monotonic() - t_start) - 15.0
        res = run_jvm(args, run_dir, cp, max(30.0, budget))
        attempted, failed, msgs = checks(args, res, run_dir)
        for msg in msgs[:20]:
            log(f"FAIL {msg}")
        if args.trace:
            metrics = per_layer(res, attempted, failed)
            out = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(metrics.items())}
            if args.ledger:
                Path(args.ledger).write_text(json.dumps({
                    "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "input_digest": gen_info.get("digest"), "metrics": metrics,
                    "end_to_end_untraced": end_to_end(res)}, indent=1, sort_keys=True) + "\n")
        else:
            out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end(res).items()}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
