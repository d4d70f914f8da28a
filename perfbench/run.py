#!/usr/bin/env python3
"""Benchmark for the graft CDC engine: the reference topology (catch-up and
live) and a fixed query mix. See perfbench/README.md for the method.

Usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the engine
and the harness with sbt (offline); later runs reuse the build while the
sources are unchanged. The last stdout line is the result JSON.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"

# Workload parameters. Changing any of them changes the benchmark.
CATCHUP_EVENTS = 90000      # backlog per drain
CATCHUP_MAX_FRAMES = 90000  # admission control: frames per trigger (3 per event)
LIVE_RATE = 500.0            # offered events/s
WARM_EVENTS = 10000         # backlog of each file-fed warm-up drain (both CDC workloads)
CATCHUP_WARM_DRAINS = 4
LIVE_WARM_DRAINS = 2
LIVE_WARM_S = 4.0           # schedule seconds before the measured window
MIX_SF = "sf0.01"

WORKLOADS = ("cdc_catchup", "cdc_live", "query_mix")

E2E = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
}

# Oracle-graded SparkEntry entries: iterative/graph, compute kernels,
# TPC-H shapes, and the CDC batch entries.
MIX_ENTRIES = [
    "lp1_label_propagation",
    "e1_embed_nn", "cdk1_content_chunks",
    "q2_min_cost_supplier", "q9_product_profit", "q21_waiting_suppliers",
    "cdc1_source_batch", "cdc2_upsert_replay",
]


def per_layer_units():
    u = {
        "gen.offered_eps": "1/s", "gen.late_p99_ms": "ms",
        "walsender.requests": "count", "walsender.frames_served": "count",
        "walsender.bytes_served_mb": "MB", "walsender.frames_per_event": "ratio",
        "source.rows_per_trigger_p50": "count", "source.latest_offset_ms": "ms",
        "source.lag_events_max": "count", "source.lag_events_end": "count",
    }
    for q in ("pa_users", "pa_colors", "pb_count"):
        u.update({f"trigger.{q}.count": "count", f"trigger.{q}.exec_ms_p50": "ms",
                  f"trigger.{q}.exec_ms_p90": "ms", f"trigger.{q}.planning_ms": "ms",
                  f"trigger.{q}.add_batch_ms": "ms", f"trigger.{q}.wal_commit_ms": "ms",
                  f"trigger.{q}.commit_offsets_ms": "ms"})
    u.update({
        "state.rows_total": "count", "state.rows_updated": "count",
        "state.commit_ms": "ms", "state.memory_mb": "MB",
        "sink.topic_msgs": "count", "sink.upsert_rows": "count",
        "sink.upsert_txns": "count", "sink.upsert_ms": "ms",
        "fresh.topic_p50_ms": "ms", "fresh.topic_p90_ms": "ms",
        "fresh.count_p50_ms": "ms", "fresh.count_p90_ms": "ms",
        "probe.wal_index_build_ms": "ms", "probe.frames_read_per_s": "1/s",
        "probe.pgoutput_decode_per_s": "1/s", "probe.boundary_states_ms_at_end": "ms",
        "probe.compact_batch_per_s": "1/s", "probe.topic_commit_per_s": "1/s",
        "probe.upsert_rows_per_s": "1/s",
        "spark.jobs": "count", "spark.tasks": "count", "spark.task_run_s": "s",
        "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
        "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
        "spark.utilization": "ratio", "spark.parallel_speedup": "ratio",
        "mix.mix_s": "s", "mix.build_s": "s",
    })
    for q in MIX_ENTRIES:
        u.update({f"query.{q}.run_s": "s", f"query.{q}.jobs": "count",
                  f"query.{q}.task_s": "s"})
    u.update({
        "harness.tmp_files_left": "count", "harness.tmp_mb_left": "MB",
        "catalog.temp_views_left": "count",
        "jvm.peak_heap_mb": "MB", "jvm.gc_s": "s",
    })
    for layer in ("harness", "trigger", "source", "planning", "add_batch", "commit",
                  "build", "execute", "probe"):
        u[f"self.{layer}_s"] = "s"
    u.update({"trace.overhead_pct": "%", "trace.ops_per_s": "1/s",
              "trace.latency_p90_ms": "ms", "host.steal_pct": "%"})
    return u


PER_LAYER = per_layer_units()
LIVE_VALIDITY = ("gen.late_p99_ms", "source.lag_events_max", "source.lag_events_end")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(n, os.cpu_count() or n))


def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    """Builds engine + harness with sbt when the sources changed; returns
    the runtime classpath and the sources' stamp."""
    BUILD.mkdir(exist_ok=True)
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
            return cp_file.read_text().strip(), stamp
        env = dict(os.environ, COURSIER_MODE="offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = Path.home() / ".sbt" / "repositories"
            if repos.exists():  # resolve from the same repositories as the cache
                opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        log("building engine and harness with sbt")
        t = time.time()
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=840)
        (BUILD / "build.log").write_text(p.stdout)
        lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
        if p.returncode != 0 or not lines:
            log(p.stdout[-3000:])
            raise SystemExit("build failed")
        cp_file.write_text(lines[-1])
        stamp_file.write_text(stamp)
        log(f"built in {time.time() - t:.0f} s")
        return lines[-1], stamp


def java_cmd(cp, run_dir, heap, main, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + str(run_dir)]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, main] + args


def cpu_ticks():
    """(steal, total) CPU ticks of this machine since boot: steal is time
    the hypervisor ran other guests on our virtual CPUs."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return 0, 0


def tree_size(d):
    files, size = 0, 0
    if d.exists():
        for p in d.rglob("*"):
            if p.is_file():
                files += 1
                size += p.stat().st_size
    return files, size


def run_main(cp, workload, seed, seconds, trace, n_cores, run_dir, extra):
    """Runs one Main process; returns its result dict or None."""
    for sub in ("tmp", "spark-local"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    args = [f"workload={workload}", f"seed={seed}", f"seconds={seconds}",
            f"trace={1 if trace else 0}", f"cores={n_cores}", f"run_dir={run_dir}"]
    args += [f"{k}={v}" for k, v in extra.items()]
    with open(run_dir / "bench.log", "ab") as out:
        p = subprocess.Popen(java_cmd(cp, run_dir, "3g", "perfbench.Main", args),
                             cwd=run_dir, stdout=out, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=165)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log(f"{workload}: timed out")
    res = run_dir / "result.json"
    return json.loads(res.read_text()) if res.exists() else None


def oracle_check(out_dir, sf_dir, n_cores):
    """DuckDB oracle compare of each entry's output, canonicalized as the
    repository's oracle checker does. Returns the names that do not match."""
    import duckdb
    import pandas as pd
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.sql(f"SET threads TO {n_cores}")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def canon(df):
        return df.reindex(sorted(df.columns), axis=1).astype(str)

    bad = []
    for name in MIX_ENTRIES:
        try:
            mine = canon(pd.read_parquet(out_dir / name))
            ref = canon(con.sql(oracle[name]).df())
            same = list(mine.columns) == list(ref.columns) and len(mine) == len(ref) and (
                mine.reset_index(drop=True).equals(ref.reset_index(drop=True)) or
                mine.sort_values(list(mine.columns)).reset_index(drop=True).equals(
                    ref.sort_values(list(ref.columns)).reset_index(drop=True)))
        except Exception as e:  # missing output or oracle error
            log(f"oracle {name}: {e}")
            same = False
        if not same:
            bad.append(name)
    return bad


def history_file(workload, stamp):
    """Untraced results of `workload` built from the sources with `stamp`
    and run with this script's parameters."""
    key = hashlib.sha256(stamp.encode() + Path(__file__).read_bytes()).hexdigest()[:16]
    return BUILD / "history" / f"{workload}-{key}.jsonl"


def untraced_p50_ms(workload, stamp):
    """Median latency_p50_ms of the untraced runs of `workload` on these
    sources. Latency, not ops_per_s: on cdc_live ops_per_s is capped by the
    offered rate and would hide the overhead."""
    f = history_file(workload, stamp)
    rows = [json.loads(l) for l in f.read_text().splitlines()] if f.exists() else []
    return statistics.median(r["latency_p50_ms"] for r in rows) if rows else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("perfbench: the engine sources are not in this checkout")
    sf_dir = Path(os.environ.get("GRAFT_SF_DIR", Path.home() / "testdata" / MIX_SF))
    if a.workload == "query_mix" and not (sf_dir / "lineitem.parquet").exists():
        raise SystemExit(f"perfbench: test tables not found at {sf_dir} (set GRAFT_SF_DIR)")

    cp, stamp = classpath()
    n = cores()
    run_dir = BUILD / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    gen = None
    try:
        if a.workload == "cdc_catchup":
            extra = {"events": CATCHUP_EVENTS, "max_frames": CATCHUP_MAX_FRAMES,
                     "warm_events": WARM_EVENTS, "warm_drains": CATCHUP_WARM_DRAINS}
        elif a.workload == "cdc_live":
            events = int(LIVE_RATE * (LIVE_WARM_S + a.seconds))
            port_file = run_dir / "walsender.port"
            extra = {"events": events, "rate": LIVE_RATE, "warm_s": LIVE_WARM_S,
                     "port_file": port_file, "max_frames": CATCHUP_MAX_FRAMES,
                     "warm_events": WARM_EVENTS, "warm_drains": LIVE_WARM_DRAINS}
            gen = subprocess.Popen(
                java_cmd(cp, run_dir, "512m", "perfbench.WalSender",
                         [str(port_file), str(a.seed), str(events), str(LIVE_RATE)]),
                cwd=run_dir, stdout=open(run_dir / "walsender.log", "wb"),
                stderr=subprocess.STDOUT)
        else:
            extra = {"sf_dir": sf_dir, "entries": ",".join(MIX_ENTRIES)}
        steal0, total0 = cpu_ticks()
        res = run_main(cp, a.workload, a.seed, a.seconds, a.trace, n, run_dir, extra)
        steal1, total1 = cpu_ticks()
        if gen is not None:
            try:
                gen.wait(timeout=10)
            except subprocess.TimeoutExpired:
                gen.kill()
                gen.wait()
        if res is None:
            log((run_dir / "bench.log").read_text()[-4000:])
            raise SystemExit("perfbench: the run produced no result")

        failed = int(res["failed"])
        if a.workload == "query_mix":
            bad = oracle_check(run_dir / "out", sf_dir, n)
            if bad:
                res["notes"].append("oracle mismatch: " + ", ".join(bad))
            failed = max(failed, len(set(bad)))
        layer = res["layer"]
        layer["host.steal_pct"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
        files, size = tree_size(run_dir / "tmp")
        layer["harness.tmp_files_left"] = files
        layer["harness.tmp_mb_left"] = size / 1e6
        e2e = res["e2e"]

        if a.trace:
            if a.workload == "cdc_catchup":
                # Single-core baseline of the same drain, in its own process,
                # traced like this run so the ratio holds no tracing cost.
                base_dir = run_dir / "local1"
                base_dir.mkdir()
                base = run_main(cp, a.workload, a.seed, 0, 1, 1, base_dir, dict(extra, probes=0))
                if base and base["e2e"].get("ops_per_s"):
                    layer["spark.parallel_speedup"] = e2e["ops_per_s"] / base["e2e"]["ops_per_s"]
            untraced = untraced_p50_ms(a.workload, stamp)
            layer["trace.ops_per_s"] = e2e.get("ops_per_s", 0.0)
            layer["trace.latency_p90_ms"] = e2e.get("latency_p90_ms", 0.0)
            if untraced and e2e.get("latency_p50_ms"):
                layer["trace.overhead_pct"] = 100.0 * (e2e["latency_p50_ms"] / untraced - 1.0)
            else:
                res["notes"].append("no untraced run of these sources yet: trace.overhead_pct reads 0")
            spans = run_dir / "spans.jsonl"
            if spans.exists():
                (BUILD / "traces").mkdir(exist_ok=True)
                dest = BUILD / "traces" / f"{a.workload}-s{a.seed}.spans.jsonl"
                shutil.copy(spans, dest)
                log(f"spans: {dest}")
        elif res["valid"] and failed == 0:
            (BUILD / "history").mkdir(exist_ok=True)
            with open(history_file(a.workload, stamp), "a") as h:
                h.write(json.dumps(e2e) + "\n")
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = max(1, int(res["attempted"]))
    failed = min(failed, attempted)
    names = PER_LAYER if a.trace else E2E
    source = layer if a.trace else e2e
    metrics = {k: {"value": float(source.get(k, 0.0)), "unit": u} for k, u in names.items()}
    correct = bool(res["valid"]) and failed == 0 and (
        a.trace == 1 or all(source.get(k, 0.0) > 0 for k in E2E))
    for note in res["notes"]:
        log(f"note: {note}")
    summary = [f"{k}={e2e.get(k, 0.0):.4f}{u}" for k, u in E2E.items()]
    summary.append(f"host.steal_pct={layer['host.steal_pct']:.1f}%")
    if a.workload == "cdc_live":  # the validity figures of every live run
        summary += [f"{k}={layer.get(k, 0.0):.1f}{PER_LAYER[k]}" for k in LIVE_VALIDITY]
    print(f"workload={a.workload} seed={a.seed} cores={n} failed_frac={failed / attempted:.6f} "
          + " ".join(summary))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
