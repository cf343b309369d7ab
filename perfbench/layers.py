"""Per-layer metrics derived from the traced run's spans (`spans.jsonl`).

A Spark job is attributed by its call site, the `graft.` frames of the
action that started it, innermost first. The innermost frame in a store
module names the store layer (a `LocalStore` frame is the server-side
apply). The innermost frame in the ingest shell or the act phase names the
ingest step (decode, fetch, gather, resolve, asset copy, failure report)
by the section of the source file its line falls in, so a store call made
by the failure report counts for both. The sections are found by anchor
text in the program's sources at run time, so the attribution follows the
code when lines move."""
import json
import os
import re
import statistics

FRAME = re.compile(r"^graft\.([\w.$]+)\((\w+)\.scala:(\d+)\)")

# (file, anchor text, step): a line belongs to the last anchor at or above it
ANCHORS = [
    ("IngestStream", "// ---- decode", "decode"),
    ("IngestStream", "// ---- fetch", "fetch"),
    ("IngestStream", "// ---- gather + act", "gather"),
    ("IngestStream", "// ---- failure report", "failure_report"),
    ("IngestStream", "best-effort spill cleanup", "fetch"),
    ("IngestStream", "def start(", "other"),
    ("PackageIngest", "def ingestDs(", "gather"),
    ("PackageIngest", "val identifiers = store.read", "resolve"),
    ("PackageIngest", "val byteCopy", "asset_copy"),
    ("PackageIngest", "store.applyEffects", "store"),
    ("PackageIngest", "// 7. outcome", "resolve"),
    ("PackageIngest", "private def copyAssetBytes", "asset_copy"),
]
FILE_STEP = {"Messages": "decode", "Resolution": "resolve", "TarOps": "gather"}
STORE_FILES = {"LocalStore": "server_apply", "DocStoreServer": "server_apply",
               "HttpStore": "wire", "ShardedWireStore": "wire"}
INGEST_STEPS = ("decode", "fetch", "gather", "resolve", "asset_copy", "failure_report")
QUERY_FIELDS = ("jobs", "tasks", "idle_ms", "shuffle_bytes", "spill_bytes", "gc_ms", "run_ms")


def _sections(root):
    out = {}
    for fname in {a[0] for a in ANCHORS}:
        path = None
        for dirpath, _, files in os.walk(os.path.join(root, "src", "main", "scala")):
            if fname + ".scala" in files:
                path = os.path.join(dirpath, fname + ".scala")
        if path is None:
            continue
        with open(path) as f:
            lines = f.read().split("\n")
        marks = []
        for _, anchor, step in (a for a in ANCHORS if a[0] == fname):
            for i, line in enumerate(lines, 1):
                if anchor in line:
                    marks.append((i, step))
                    break
        out[fname] = sorted(marks)
    return out


def _frames(site):
    for line in site.split("\n"):
        m = FRAME.match(line)
        if m:
            yield m.group(2), int(m.group(3))


def step_of(site, sections):
    """The ingest step of a job's call site, or "other"."""
    for fname, lineno in _frames(site):
        if fname in FILE_STEP:
            return FILE_STEP[fname]
        if fname in sections:
            step = "other"
            for start, s in sections[fname]:
                if start <= lineno:
                    step = s
            return step
    return "other"


def store_of(site):
    """The store layer of a job's innermost store frame, or None."""
    for fname, _ in _frames(site):
        if fname in STORE_FILES:
            return STORE_FILES[fname]
    return None


def _union_ms(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def ingest_layers(spans, windows, docs, root, probes, store_bytes_per_doc):
    """`windows`: list of dict(start, end, planning_ms, commit_ms) per round."""
    sections = _sections(root)
    jobs = [s for s in spans if s["kind"] == "job"]
    writes = [s for s in spans if s["kind"] == "write"]
    stores = [s for s in spans if s["kind"] == "store"]
    n = max(1, len(windows))
    acc = {k: 0.0 for k in ("jobs", "tasks", "idle", "run", "gc", "shuffle", "spill",
                            "bytes", "files", "apply", "read", "server_apply")}
    by_step = {s: 0.0 for s in INGEST_STEPS}
    for w in windows:
        inside = [j for j in jobs if w["start"] <= j["start"] <= w["end"]]
        acc["jobs"] += len(inside)
        acc["tasks"] += sum(j["tasks"] for j in inside)
        acc["run"] += sum(j["run_ms"] for j in inside)
        acc["gc"] += sum(j["gc_ms"] for j in inside)
        acc["shuffle"] += sum(j["shuffle_bytes"] for j in inside)
        acc["spill"] += sum(j["spill_bytes"] for j in inside)
        busy = _union_ms([(max(j["start"], w["start"]), min(j["end"], w["end"]))
                          for j in inside])
        acc["idle"] += max(0, (w["end"] - w["start"]) - busy)
        for j in inside:
            step = step_of(j["site"], sections)
            if step in by_step:
                by_step[step] += j["end"] - j["start"]
            if store_of(j["site"]) == "server_apply":
                acc["server_apply"] += j["end"] - j["start"]
        for x in writes:
            if w["start"] <= x["end"] <= w["end"]:
                acc["bytes"] += x["bytes"]
                acc["files"] += x["files"]
        for s in stores:
            if w["start"] <= s["start"] <= w["end"]:
                if s["name"] == "applyEffects":
                    acc["apply"] += s["end"] - s["start"]
                elif s["name"] == "read":
                    acc["read"] += s["end"] - s["start"]
    out = {
        "streaming.jobs_per_round": acc["jobs"] / n,
        "streaming.tasks_per_round": acc["tasks"] / n,
        "streaming.idle_ms_per_round": acc["idle"] / n,
        "streaming.planning_ms_per_round": sum(w["planning_ms"] for w in windows) / n,
        "streaming.commit_ms_per_round": sum(w["commit_ms"] for w in windows) / n,
    }
    for s in INGEST_STEPS:
        out[f"ingest.{s}_ms_per_round"] = by_step[s] / n
    out["ingest.resolve_call_ms"] = probes.get("resolve_call_ms", 0.0)
    out["tar.gather_us_per_pkg"] = probes.get("gather_us_per_pkg", 0.0)
    out["tar.explode_us_per_pkg"] = probes.get("explode_us_per_pkg", 0.0)
    out.update({
        "store.apply_ms_per_round": acc["apply"] / n,
        "store.server_apply_ms_per_round": acc["server_apply"] / n,
        "store.read_ms_per_round": acc["read"] / n,
        "store.bytes_written_per_round": acc["bytes"] / n,
        "store.files_written_per_round": acc["files"] / n,
        "store.bytes_per_doc": store_bytes_per_doc,
        "spark.executor_run_ms_per_doc": acc["run"] / max(1, docs),
        "spark.gc_ms_per_round": acc["gc"] / n,
        "spark.shuffle_bytes_per_round": acc["shuffle"] / n,
        "spark.spill_bytes_per_round": acc["spill"] / n,
    })
    return out


def query_layers(spans, families):
    """Per family and per query, over the warm runs (rep >= 1), plus each
    family's cold pass (rep 0); `families` maps query name to family."""
    jobs = [s for s in spans if s["kind"] == "job"]
    cold = {q["name"]: (q["end"] - q["start"]) / 1000.0
            for q in spans if q["kind"] == "query" and q["rep"] == 0}
    by_tag = {}
    for j in jobs:
        for tag in filter(None, j["tags"].split(",")):
            by_tag.setdefault(tag, []).append(j)
    runs = {}
    for q in (s for s in spans if s["kind"] == "query" and s["rep"] >= 1):
        js = by_tag.get(q["tag"], [])
        busy = _union_ms([(j["start"], j["end"]) for j in js])
        runs.setdefault(q["name"], []).append(dict(
            jobs=len(js), tasks=sum(j["tasks"] for j in js),
            idle_ms=max(0, (q["end"] - q["start"]) - busy),
            shuffle_bytes=sum(j["shuffle_bytes"] for j in js),
            spill_bytes=sum(j["spill_bytes"] for j in js),
            gc_ms=sum(j["gc_ms"] for j in js), run_ms=sum(j["run_ms"] for j in js),
            s=(q["end"] - q["start"]) / 1000.0))
    out = {}
    for fam in sorted(set(families.values())):
        names = [q for q, f in families.items() if f == fam]
        rs = [r for q in names for r in runs.get(q, [])]
        for k in QUERY_FIELDS:
            label = {"run_ms": "executor_run_ms"}.get(k, k)
            out[f"{fam}.{label}_per_query"] = statistics.mean(r[k] for r in rs) if rs else 0.0
        out[f"{fam}.query_s"] = sum(statistics.median(r["s"] for r in runs[q])
                                    for q in names if q in runs)
        out[f"{fam}.cold_query_s"] = sum(cold.get(q, 0.0) for q in names)
    for q in families:
        rs = runs.get(q, [])
        out[f"{q}.jobs"] = statistics.median(r["jobs"] for r in rs) if rs else 0.0
        out[f"{q}.s"] = statistics.median(r["s"] for r in rs) if rs else 0.0
    return out
