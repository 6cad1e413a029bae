#!/usr/bin/env python3
"""Benchmark of the graft engine: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark client with sbt (classpath cached under ``.bench_build/``) and
generates the parquet tables; later runs reuse both. Each run then

1. generates the workload's inputs from ``--seed`` into a fresh run dir,
2. starts one JVM (``perfbench.Main``, one client thread, one session on
   ``local[4]``) with ``java.io.tmpdir`` inside that run dir, so the
   engine's result cache, warehouse and shuffle files start empty,
3. checks every result, prints every metric by name with its unit and
   sample count, writes the full record to ``.bench_build/results/``,
4. removes the run dir and prints one JSON line with ``correct``,
   ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` attaches the
tracing listeners and reports the per-layer metrics. See README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

HEAP = "3g"
# Set-ups per run (session build + source registration); setup_s is their
# median. Registering the parquet tables costs about 1 s, the others 0.1 s.
SETUPS = {"mr_text": 5, "query_mix": 3, "graph_fixpoint": 3, "event_stream": 5}
# Untimed passes after the cold first one, so every run starts its timed
# window with the JIT in the same steady state (pass times fall for the
# first four or so passes).
WARM_PASSES = {"mr_text": 4, "query_mix": 2, "graph_fixpoint": 1, "event_stream": 0}
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800

# Workload parameters. The parquet workloads read fixed tables (seed 42);
# their run seed only samples and orders the queries.
TABLES_SF = 0.01
QUERY_MIX_SIZE = 8
GRAPH_QUERIES = ["gr_pagerank_fix", "gr_labelprop_fix", "gr_kcore_fix", "gr_sssp",
                 "dd_components"]
CORPUS_MB = 8
MR_JOBS = 3
STREAM_TICKS_PER_S = 10
CATCHUP_BACKLOG = 60_000
CATCHUP_PASSES = 5
STREAM_PRIME = 1_000
STREAM_WARMUP_S = 3.0
STREAM_CYCLE_S = 5.0

WORKLOADS = ("mr_text", "query_mix", "graph_fixpoint", "event_stream")

END_TO_END = [("setup_s", "s"), ("warmup_s", "s"), ("pass_s", "s"),
              ("query_s.p50", "s"), ("query_s.p90", "s"), ("peak_rss_mb", "MB")]
# The per-layer metrics every workload reports in its result line; the
# layer-specific ones (mr.*, stream.*, result_cache.*, ...) are printed and
# written to the result file only.
PER_LAYER = [
    ("session.build_s", "s"), ("sources.frame_s", "s"), ("catalyst.planning_s", "s"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.delay_s", "s"), ("scheduler.driver_gap_s", "s"),
    ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.deser_s", "s"), ("exec.gc_s", "s"),
    ("exec.busy_frac", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.write_records", "count"),
    ("shuffle.read_bytes", "bytes"), ("storage.block_bytes_peak", "bytes"),
    ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"), ("trace.overhead_s", "s"),
]
# Units of the metrics printed beside the result line; a name ending in
# "_s" is in seconds.
UNITS = {
    **dict(END_TO_END), **dict(PER_LAYER),
    "scan_mb_per_s": "MB/s", "catchup_events_per_s": "1/s", "failed_frac": "ratio",
    "scheduler.empty_task_frac": "ratio", "mr.combine_ratio": "ratio",
    "spill.disk_bytes": "bytes", "sources.bytes_read": "bytes", "result_cache.bytes": "bytes",
    "stream.state_bytes": "bytes", "sources.rows_read": "count", "result_cache.builds": "count",
    "mr.mapped_records": "count", "stream.batches": "count", "stream.rows_per_batch": "count",
    "stream.state_rows": "count", "stream.backlog_events": "count",
}


def unit(name):
    return UNITS.get(name, "s" if name.endswith("_s") else "")


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _source_digest():
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compiles the engine and the benchmark client once per source state; returns
    the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError("engine sources (src/main/scala) not found next to perfbench/")
    digest = _source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"]
    log("[perfbench] building engine + benchmark client with sbt ...")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
        text=True, timeout=BUILD_LIMIT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        log("\n".join(l for l in lines if l.startswith("[error]"))[-4000:])
        raise BenchError(f"sbt build failed (exit {proc.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": lines[-1].strip()}, fh)
    log(f"[perfbench] build done in {time.time() - t0:.0f} s")
    return lines[-1].strip()


def tables_dir():
    """The fixed parquet tables, generated once per checkout."""
    d = os.path.join(BUILD, "data", f"tables-{gen.TABLES_VERSION}-seed{gen.TABLES_SEED}-sf{TABLES_SF}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_tables(tmp, TABLES_SF)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


# ---------------------------------------------------------------- inputs

def stream_phases(seconds):
    """(name, events/s, seconds) of the open-loop phases before catch-up:
    a fixed warm-up, then one 5 s cycle of light and heavy load per 5 s of
    ``seconds``. A measured phase is named ``<kind>.<cycle>``."""
    cycles = max(1, round(seconds / STREAM_CYCLE_S))
    half = STREAM_CYCLE_S / 2
    return [("warmup", 2_000, STREAM_WARMUP_S)] + [
        (f"{kind}.{c}", rate, half)
        for c in range(1, cycles + 1) for kind, rate in (("light", 2_000), ("heavy", 20_000))]


def make_inputs(workload, seed, seconds, inputs):
    """Writes the run's inputs; returns facts the report needs."""
    os.makedirs(inputs, exist_ok=True)
    if workload == "mr_text":
        _, nbytes, nwords = gen.write_corpus(inputs, seed, CORPUS_MB)
        return {"corpus_bytes": nbytes, "corpus_words": nwords}
    if workload in ("query_mix", "graph_fixpoint"):
        if workload == "query_mix":
            with open(os.path.join(HERE, "query_candidates.txt")) as fh:
                cands = [l.split()[0] for l in fh if l.strip() and not l.startswith("#")]
            names = gen.sample_queries(seed, cands, QUERY_MIX_SIZE)
        else:
            names = gen.shuffled(seed, GRAPH_QUERIES)
        with open(os.path.join(inputs, "queries.txt"), "w") as fh:
            fh.write("\n".join(names) + "\n")
        return {"queries": names}
    phases = stream_phases(seconds)
    n_sends = sum(int(round(s * STREAM_TICKS_PER_S)) * (r // STREAM_TICKS_PER_S)
                  for _, r, s in phases) + CATCHUP_BACKLOG * CATCHUP_PASSES + STREAM_PRIME
    n_ids = gen.write_events(os.path.join(inputs, "events.bin"), seed, n_sends)
    with open(os.path.join(inputs, "phases.txt"), "w") as fh:
        for name, rate, secs in phases:
            fh.write(f"{name} {rate} {secs}\n")
        fh.write(f"prime {STREAM_PRIME} 1\n")
        fh.write(f"catchup {CATCHUP_BACKLOG} {CATCHUP_PASSES}\n")
    return {"sends": n_sends, "distinct_ids": n_ids}


# ---------------------------------------------------------------- JVM

def jvm_command(cp, tmp, argv):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # heap and collector as the engine's own build runs it (ParallelGC)
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}", "-XX:-UsePerfData",
            "-cp", cp, "perfbench.Main"] + argv
    return cmd


def run_jvm(cmd, env, log_path, limit_s):
    """Runs the JVM in its own process group; returns its peak RSS in MB."""
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        deadline = time.time() + limit_s
        status = rusage = None
        while status is None:
            pid, st, ru = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                status, rusage = st, ru
            elif time.time() > deadline:
                os.killpg(proc.pid, signal.SIGKILL)
                os.wait4(proc.pid, 0)
                raise BenchError(f"JVM exceeded {limit_s:.0f} s")
            else:
                time.sleep(0.05)
        proc.returncode = os.waitstatus_to_exitcode(status)
    try:  # nothing of the run may outlive it
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    if proc.returncode != 0:
        with open(log_path) as fh:
            log(fh.read()[-4000:])
        raise BenchError(f"JVM exited with {proc.returncode}")
    return rusage.ru_maxrss / 1024.0


# ---------------------------------------------------------------- checks

def _check_oracle_module():
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_checks(names, inputs, data_dir):
    """Compares each query's warm-up result with its DuckDB oracle, in
    check_oracle.py's canonical form. Expected results are cached per
    table set and SQL text. Returns (attempted, failure lines)."""
    import duckdb
    import pandas as pd
    co = _check_oracle_module()
    with open(os.path.join(inputs, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    cache = os.path.join(data_dir + ".oracle")
    os.makedirs(cache, exist_ok=True)
    con = None
    bad = []
    for name in names:
        if name not in oracles:
            bad.append(f"{name}: no oracle SQL")
            continue
        key = hashlib.sha256(oracles[name].encode()).hexdigest()[:16]
        cached = os.path.join(cache, f"{name}-{key}.pkl")
        if os.path.exists(cached):
            with open(cached, "rb") as fh:
                exp = pickle.load(fh)
        else:
            if con is None:
                con = duckdb.connect()
                for t in co.TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
            exp = co.canon(con.execute(oracles[name]).fetchdf())
            with open(cached + ".tmp", "wb") as fh:
                pickle.dump(exp, fh)
            os.replace(cached + ".tmp", cached)
        out = os.path.join(inputs, "results", name)
        files = sorted(f for f in os.listdir(out) if f.endswith(".parquet")) if os.path.isdir(out) else []
        if not files:
            bad.append(f"{name}: no result written")
            continue
        got = co.canon(pd.concat([pd.read_parquet(os.path.join(out, f)) for f in files]))
        if list(got.columns) != list(exp.columns):
            bad.append(f"{name}: columns {list(got.columns)} != {list(exp.columns)}")
        elif len(got) != len(exp):
            bad.append(f"{name}: {len(got)} rows, oracle {len(exp)}")
        elif not got.equals(exp):
            bad.append(f"{name}: values differ from the oracle")
    if con is not None:
        con.close()
    return len(names), bad


# ---------------------------------------------------------------- metrics

def pct(xs, p):
    """Linear-interpolated percentile (numpy's default)."""
    s = sorted(xs)
    if not s:
        return float("nan")
    x = p * (len(s) - 1)
    i = int(x)
    return s[-1] if i + 1 >= len(s) else s[i] + (x - i) * (s[i + 1] - s[i])


def self_times(spans_path):
    """Self time per layer: each span's duration minus the union of its
    children's intervals, summed by layer name."""
    with open(spans_path) as fh:
        spans = [json.loads(l) for l in fh if l.strip()]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                    for c in children.get(s["id"], []) if c is not s)
        covered, cur = 0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        layer = s["name"].split(":")[0]
        out[layer] = out.get(layer, 0.0) + max(0, s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out, len(spans)


def summarize(workload, rec, facts, rss_mb):
    """Returns (end-to-end {name: (value, unit, n)}, extras, per-layer)."""
    setups = rec["setup"]
    passes = rec["passes"]
    untraced = [p["wall_s"] for p in passes if not p["traced"]] or [p["wall_s"] for p in passes]
    traced = [p["wall_s"] for p in passes if p["traced"]]
    e2e = {
        "setup_s": (statistics.median(b + f for b, f in setups), "s", len(setups)),
        "warmup_s": (rec["warmup_s"], "s", 1),
        "pass_s": (statistics.median(untraced), "s", len(untraced)),
        "peak_rss_mb": (rss_mb, "MB", 1),
    }
    extras = {}
    if workload == "event_stream":
        lat = rec["latency"]
        e2e["query_s.p50"] = (lat["all"]["p50"], "s", int(lat["all"]["n"]))
        e2e["query_s.p90"] = (lat["all"]["p90"], "s", int(lat["all"]["n"]))
        for ph in ("light", "heavy"):
            for q in ("p50", "p90"):
                extras[f"{ph}.event_latency_s.{q}"] = (lat[ph][q], "s", int(lat[ph]["n"]))
        extras["catchup_events_per_s"] = (rec["catchup_backlog"] / e2e["pass_s"][0], "1/s",
                                          len(untraced))
    else:
        timed = [q for q in rec["queries"] if not passes[q["pass"] - 1]["traced"]] or rec["queries"]
        # each query's (or job's) wall is its median over the timed passes;
        # the percentiles are taken over those, one value per query
        by_item = {}
        for q in timed:
            by_item.setdefault(q["name"], []).append(q["wall_s"])
        walls = [statistics.median(v) for v in by_item.values()]
        e2e["query_s.p50"] = (pct(walls, 0.5), "s", len(timed))
        e2e["query_s.p90"] = (pct(walls, 0.9), "s", len(timed))
        if workload == "mr_text":
            extras["scan_mb_per_s"] = (facts["corpus_bytes"] * MR_JOBS / 1e6 / e2e["pass_s"][0],
                                       "MB/s", len(untraced))
    extras["failed_frac"] = (rec["failed"] / max(1, rec["attempted"]), "ratio", rec["attempted"])

    layers = {}
    if workload == "event_stream":
        layers.update(rec.get("stream_layers", {}))
    else:
        tl = [p["layers"] for p in passes if p["traced"] and p["layers"]]
        for k in (tl[0] if tl else {}):
            layers[k] = statistics.fmean(x[k] for x in tl)
        rc = rec["result_cache"]
        layers["result_cache.builds"] = rc["builds"]
        layers["result_cache.bytes"] = rc["bytes"]
    layers["session.build_s"] = statistics.median(b for b, _ in setups)
    layers["sources.frame_s"] = statistics.median(f for _, f in setups)
    if traced:
        layers["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    return e2e, extras, layers


# ---------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cp = classpath()
    t_start = time.time()
    data = tables_dir() if args.workload in ("query_mix", "graph_fixpoint") else ""
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, tmp = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    try:
        facts = make_inputs(args.workload, args.seed, args.seconds, inputs)
        out = os.path.join(run_dir, "record.json")
        env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
        env["SPARK_LOCAL_DIRS"] = tmp
        cmd = jvm_command(cp, tmp, [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--data", data,
            "--inputs", inputs, "--out", out, "--setups", str(SETUPS[args.workload]),
            "--warm", str(WARM_PASSES[args.workload])])
        rss = run_jvm(cmd, env, os.path.join(run_dir, "jvm.log"),
                      RUN_LIMIT_S - (time.time() - t_start))
        with open(out) as fh:
            rec = json.load(fh)
        attempted, failed = rec["attempted"], rec["failed"]
        failures = list(rec["failures"])
        if data:
            n, bad = oracle_checks(rec["query_names"], inputs, data)
            attempted += n
            failed += len(bad)
            failures += bad
            rec["failed"], rec["attempted"] = failed, attempted
        e2e, extras, layers = summarize(args.workload, rec, facts, rss)
        selftime, nspans = ({}, 0)
        if args.trace and os.path.exists(out + ".spans.jsonl"):
            selftime, nspans = self_times(out + ".spans.jsonl")
        artifact = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "inputs": facts,
            "end_to_end": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in e2e.items()},
            "extra": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in extras.items()},
            "per_layer": layers, "self_time_s": selftime, "spans": nspans,
            "jvm": rec["jvm"], "attempted": attempted, "failed": failed, "failures": failures,
            "record": rec,
        }
        res_dir = os.path.join(BUILD, "results")
        os.makedirs(res_dir, exist_ok=True)
        res = os.path.join(res_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
        with open(res + ".json", "w") as fh:
            json.dump(artifact, fh, indent=1)
        if nspans:
            shutil.copyfile(out + ".spans.jsonl", res + ".spans.jsonl")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for f in failures:
        print(f"FAILED {f}")
    print(f"# {args.workload} seed={args.seed} trace={args.trace}")
    for k, (v, u, n) in list(e2e.items()) + list(extras.items()):
        print(f"{k:28s} {v:14.6f} {u:6s} n={n}")
    if args.trace:
        for k in sorted(layers):
            v = layers[k] if layers[k] is not None else float("nan")
            print(f"{k:28s} {v:14.6f} {unit(k)}")
        for k in sorted(selftime):
            print(f"self:{k:23s} {selftime[k]:14.6f} s")
        # a median of no samples arrives as null; the line carries numbers
        metrics = {k: {"value": layers.get(k) or 0.0, "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in END_TO_END}
    ok = failed == 0
    print(json.dumps({"correct": ok, "attempted": int(attempted), "failed": int(failed),
                      "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (BenchError, subprocess.TimeoutExpired, OSError) as e:
        log(f"[perfbench] error: {e}")
        sys.exit(2)
