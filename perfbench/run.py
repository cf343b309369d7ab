#!/usr/bin/env python3
"""The repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload ingest_trickle --seed 1 --seconds 20 --trace 0

It builds the program and the JVM harness from source (once per source
state, under `$CARGO_TARGET_DIR` or `.bench_build`), generates the
workload's inputs from `--seed`, starts one JVM with one task thread per
core, checks every output, and prints one JSON object as the last line of
standard output: the end-to-end metrics with `--trace 0`, the per-layer
metrics (from a run with span recording on) with `--trace 1`.
See perfbench/README.md."""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import model  # noqa: E402

WORKLOADS = ("ingest_trickle", "analytics")
ITER = ["q169_removal_attribution"]
SCAN = ["q01_agg_pricing_summary", "q140_topk_rewrite", "q27_package_explode",
        "q30_uri_resolution"]
FAMILY = {**{q: "iter" for q in ITER}, **{q: "scan" for q in SCAN}}
DEADLINE_S = 170  # seconds a run may take once the build is done
JVM_HEAP = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

T_START = time.monotonic()


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0)) or os.cpu_count() or 1


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


# ------------------------------------------------------------------ build

def _sources():
    """Every file the build reads: both build definitions, the top-level
    files of both sbt `project/` directories, and both source trees."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for p in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(p):
            files += [os.path.join(p, f) for f in os.listdir(p)
                      if os.path.isfile(os.path.join(p, f))]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile the program and the harness with sbt (offline) and return the
    runtime classpath. The compiled classes are copied into a directory
    named by a hash of the sources, so a cached build never reads sbt's
    shared `target/` directories, which a build of another source state
    overwrites."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: the program's sources are not here; "
                         "run from the root of a repository checkout")
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir(), f"build-{h.hexdigest()[:16]}")
    stamp = os.path.join(out, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(build_dir(), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building (sbt compile)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        log(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    entries = []
    for i, e in enumerate(lines[-1].split(os.pathsep)):
        if os.path.abspath(e).startswith(ROOT + os.sep):  # built here: copy
            dest = os.path.join(out, f"cp{i}")
            if os.path.isdir(e):
                shutil.copytree(e, dest)
            else:
                dest += os.path.splitext(e)[1]
                shutil.copy2(e, dest)
            e = dest
        entries.append(e)
    classpath = os.pathsep.join(entries)
    with open(stamp + ".tmp", "w") as f:
        f.write(classpath)
    os.replace(stamp + ".tmp", stamp)
    return classpath


def run_jvm(classpath, spec, work):
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap size: G1's heap resizing differs from run to run
    # no hsperfdata file outside the checkout (-XX:-UsePerfData)
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", spec_path]
    left = DEADLINE_S - (time.monotonic() - T_START)
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            text=True, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: interrupted")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=max(10, left))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: the JVM overran the run deadline")
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)
    if proc.returncode != 0:
        log(out[-6000:])
        raise SystemExit(f"perfbench: the JVM failed ({proc.returncode})")
    with open(spec["out"]) as f:
        return json.load(f)


# -------------------------------------------------------------- workloads

def _store_bytes(store):
    """On-disk bytes of the store's tables, asset bytes excluded."""
    total = 0
    for d, dirs, fs in os.walk(store):
        if os.path.relpath(d, store).split(os.sep)[0] == "asset_files":
            continue
        total += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
    return total


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def ingest_trickle(seed, args, classpath, work):
    t0 = time.monotonic()
    inp = gen.ingest_trickle(seed, os.path.join(work, "in"))
    gen_s = time.monotonic() - t0
    spec = dict(workload="ingest_trickle", bucket=inp["bucket"].root,
                rounds=inp["rounds_dir"], preload=os.path.join(work, "in", "preload"),
                requests=os.path.join(work, "in", "requests.parquet"))
    if args.trace:
        # the requests of every staged round, for the direct resolution probe
        probe = model.Model()
        probe.preload(inp["preload_docs"], inp["preload_ids"])
        for events in inp["rounds"]:
            probe.round(events, inp["bucket"].objects)
        _requests(probe, spec["requests"])
    res = run_jvm(classpath, _spec(spec, args, work), work)
    m = model.Model()
    m.preload(inp["preload_docs"], inp["preload_ids"])
    done = len(res["warmup"]) + len(res["rounds"])
    hostile_uris = []
    attempted = 0
    warm_landed = 0
    for r, events in enumerate(inp["rounds"][:done]):
        attempted += len(events)
        for o in m.round(events, inp["bucket"].objects):
            if o["error"] == model.UNSAFE_PATH:
                hostile_uris.append((r, o["msg_id"], o["uri"]))
        if r < len(res["warmup"]):
            warm_landed = m.landed
    store = res["store"]
    bad, wrong_terminal = check.check_store(store, m, excluded_uris=[u for _, _, u in hostile_uris],
                                            log=log)
    hostile_ok = _hostile_verdicts(store, hostile_uris)
    landed = m.landed - warm_landed
    e2e = dict(throughput_per_s=landed / res["stream_s"],
               step_ms_p50=_median([r["wall_ms"] for r in res["rounds"]]),
               peak_live_mb=res["peak_live_mb"],
               setup_s=gen_s + res["session_s"] + res["preload_s"] +
               sum(r["wall_ms"] for r in res["warmup"]) / 1000)
    per_layer = None
    if args.trace:
        prog = {p["batch"]: p for p in res["progress"]}
        first = len(res["warmup"])
        windows = [dict(start=r["start"], end=r["end"],
                        planning_ms=prog.get(first + i, {}).get("planning_ms", 0),
                        commit_ms=prog.get(first + i, {}).get("commit_ms", 0))
                   for i, r in enumerate(res["rounds"])]
        per_layer = _per_layer(work, (windows, landed, res,
                                      _store_bytes(store) / max(1, len(m.documents))))
    log(f"perfbench: ingest_trickle rounds={done} landed={landed} "
        f"hostile_ok={hostile_ok}/{len(hostile_uris)} wrong_terminal={len(wrong_terminal)} "
        f"mismatches={len(bad)}")
    return dict(correct=not bad, attempted=attempted, failed=len(hostile_uris) - hostile_ok + len(wrong_terminal),
                e2e=e2e, per_layer=per_layer)


def _hostile_verdicts(store, hostile):
    """A hostile package is handled when the ledger holds a row for its
    message, no document was stored for it, and nothing was written where
    its `..` image name points."""
    import duckdb
    con = duckdb.connect()
    failed_ids = {r["msg_id"] for r in check.read_table(store, "failures", con)}
    uris = {r["uri"] for r in check.read_table(store, "documents", con)}
    ok = 0
    for r, msg_id, uri in hostile:
        escaped = os.path.exists(os.path.join(store, gen.hostile_target(r)))
        ok += msg_id in failed_ids and uri not in uris and not escaped
    return ok


def _requests(m, path):
    """The resolution requests the replayed messages made, for the direct
    `Resolution.resolve` probe."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.Table.from_pylist(m.requests, schema=pa.schema([
        ("trimmed_uri", pa.string()), ("ncn", pa.string()), ("doc_type", pa.string()),
        ("consignment_ref", pa.string())])), path)


def analytics(seed, args, classpath, work):
    tables = os.path.join(work, "tables")
    t0 = time.monotonic()
    gen.tables(seed, tables)
    gen_s = time.monotonic() - t0
    spec = dict(workload="analytics", tables=tables, results=os.path.join(work, "results"),
                queries=[dict(name=q, family=FAMILY[q]) for q in ITER + SCAN])
    res = run_jvm(classpath, _spec(spec, args, work), work)
    bad = check.check_oracles(spec["results"], tables, res["oracle"], log=log)
    qs = res["queries"]
    warm = [s for q in qs for s in q["warm_s"]]
    e2e = dict(throughput_per_s=len(warm) / sum(warm),
               step_ms_p50=1000 * sum(_median(q["warm_s"]) for q in qs),
               peak_live_mb=res["peak_live_mb"], setup_s=gen_s + res["session_s"])
    per_layer = None
    if args.trace:
        per_layer = _per_layer(work)
    log(f"perfbench: analytics warm_runs={len(warm)} oracle_mismatches={bad}")
    return dict(correct=not bad, attempted=len(warm) + len(qs), failed=0, e2e=e2e,
                per_layer=per_layer)


def _per_layer(work, ingest=None):
    """Every per-layer metric; those of layers the workload did not run read
    0. `ingest` is (round windows, documents landed, probes, store bytes per
    document)."""
    spans = layers.load(os.path.join(work, "spans.jsonl"))
    out = dict.fromkeys(layers.ingest_layers([], [], 0, ROOT, {}, 0.0), 0.0)
    if ingest:
        windows, docs, probes, bytes_per_doc = ingest
        out.update(layers.ingest_layers(spans, windows, docs, ROOT, probes, bytes_per_doc))
    out.update(layers.query_layers(spans, FAMILY))
    return out


def _spec(spec, args, work):
    return dict(spec, work_dir=work, seconds=args.seconds, trace=bool(args.trace),
                cores=cores(), out=os.path.join(work, "result.json"),
                spans=os.path.join(work, "spans.jsonl"))


UNITS = dict(throughput_per_s="1/s", step_ms_p50="ms", peak_live_mb="MB", setup_s="s")


def _unit(name):
    if name in UNITS:
        return UNITS[name]
    last = name.split(".")[-1]
    for marker, unit in (("us_per", "us"), ("ms_per", "ms"), ("bytes", "bytes")):
        if marker in last:
            return unit
    if last.endswith("_ms"):
        return "ms"
    if last == "s" or last.endswith("query_s"):
        return "s"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    classpath = build()
    global T_START
    T_START = time.monotonic()  # the run's deadline starts after a first build
    work = os.path.join(build_dir(), "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        r = globals()[args.workload](args.seed, args, classpath, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log("perfbench: end-to-end " + json.dumps(r["e2e"]))
    metrics = r["per_layer"] if args.trace else r["e2e"]
    print(json.dumps(dict(
        correct=bool(r["correct"]), attempted=int(r["attempted"]), failed=int(r["failed"]),
        metrics={k: dict(value=float(v), unit=_unit(k)) for k, v in metrics.items()})))


if __name__ == "__main__":
    main()
