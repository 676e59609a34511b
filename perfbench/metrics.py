"""Turns one raw run record (written by perfbench.Main) into metrics.

Pure functions only, so the rules behind every figure are unit-tested in
tests/test_metrics.py: the percentile sample rule, fail-ratio counting,
the union of job intervals behind driver.gap_s, span self-time, and
metric-name validity.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
CORES = 4


def valid_name(name):
    """A metric or workload name: starts with a letter or digit, then at
    most 63 more letters, digits, '_', '.' or '-'."""
    return bool(NAME_RE.match(name))


def percentile(values, q, beyond=10):
    """Nearest-rank q-quantile of `values`, or None unless at least
    `beyond` samples lie above it (a p90 needs 100 samples, a p50 20)."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < beyond:
        return None
    return sorted(values)[rank - 1]


def fail_ratio(ops):
    """Failed or wrong operations over operations attempted. An op is a
    dict whose num["ok"] is 1 or 0; checks count like any other op."""
    attempted = len(ops)
    failed = sum(1 for o in ops if o["num"].get("ok", 0) != 1)
    return attempted, failed, (failed / attempted if attempted else 1.0)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, windows):
    """Parts of `intervals` that fall inside any of `windows`."""
    out = []
    for s, e in intervals:
        for ws, we in windows:
            lo, hi = max(s, ws), min(e, we)
            if hi > lo:
                out.append((lo, hi))
    return out


def self_times(spans):
    """Span id -> its duration minus the durations of its direct
    children (time spent in the span itself, outside any child)."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["t1"] - s["t0"]
    return {s["id"]: (s["t1"] - s["t0"]) - child.get(s["id"], 0.0) for s in spans}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """Index over one raw record."""

    def __init__(self, record):
        self.r = record
        self.spans = record["spans"]
        self.by_id = {s["id"]: s for s in self.spans}
        self.ops = [s for s in self.spans if "cls" in s["str"]]
        self.passes = [s for s in self.spans
                       if s["name"] == "pass" and s["str"].get("phase") == "timed"]

    def dur(self, s):
        return s["t1"] - s["t0"]

    def op_of(self, span_id):
        """The op span enclosing `span_id` (itself if it is an op)."""
        while span_id >= 0:
            s = self.by_id[span_id]
            if "cls" in s["str"]:
                return s
            span_id = s["parent"]
        return None

    def timed_ops(self, traced):
        flag = "1" if traced else "0"
        return [o for o in self.ops if o["str"]["phase"] == "timed"
                and self.by_id[o["parent"]]["str"].get("traced") == flag]

    def op_samples(self, traced):
        """(op name, its ordinal among same-named ops of its pass) -> the
        op's duration in each pass, in pass order."""
        seen, out = {}, {}
        for o in self.timed_ops(traced):
            key = (o["parent"], o["name"])
            seen[key] = seen.get(key, 0) + 1
            out.setdefault((o["name"], seen[key]), []).append(self.dur(o))
        return out

    def pass_walls(self, traced):
        flag = "1" if traced else "0"
        walls = {p["id"]: 0.0 for p in self.passes if p["str"].get("traced") == flag}
        for o in self.timed_ops(traced):
            walls[o["parent"]] += self.dur(o)
        return list(walls.values())


def steady_wall(samples):
    """Sum over the ops of a pass of each op's median duration across
    passes. A noisy moment slows the ops that ran in it, in one pass, and
    each op's median drops that pass without dropping the others."""
    return sum(_median(xs) for xs in samples.values())


def end_to_end(run):
    """The bounded end-to-end metrics, which every workload reports."""
    r = run.r
    loads = [run.dur(o) for o in run.ops
             if o["str"]["phase"] == "setup" and run.by_id[o["parent"]]["name"] == "pass"]
    setup_ms = r["session_ms"] + r["warmup_ms"] + (_median(loads) if loads else 0.0)
    return {
        "setup_s": (setup_ms / 1000.0, "s"),
        "wall_s": (steady_wall(run.op_samples(False)) / 1000.0, "s"),
        "heap_after_mb": (r["heap_after_mb"], "MB"),
    }


def workload_record(run):
    """Workload-specific figures of the run record. Each percentile
    carries its sample count and is null when too few samples lie beyond
    it; these are not bounded metrics because not every workload has
    reads, writes or an upgrade."""
    ops = run.timed_ops(False)
    out = {}
    for cls in ("op", "read", "write"):
        lat = [run.dur(o) for o in ops if cls == "op" or o["str"]["cls"] == cls]
        for q in (50, 90):
            out[f"{cls}_p{q}_ms"] = {"value": percentile(lat, q / 100), "n": len(lat)}
    walls = run.pass_walls(False)
    out["ops_per_s"] = len(ops) / (sum(walls) / 1000.0) if walls and sum(walls) > 0 else None
    up = [run.dur(o) / 1000.0 for o in ops if o["name"] == "upgrade"]
    out["upgrade_s"] = {"value": _median(up) if up else None, "n": len(up)}
    b = run.r["facts"].get("bytes_per_user_byte")
    out["bytes_per_user_byte"] = _median(b) if b else None
    attempted, failed, ratio = fail_ratio(run.ops)
    out["fail_ratio"] = ratio
    out["attempted"], out["failed"] = attempted, failed
    out["pass_walls_s"] = [w / 1000.0 for w in walls]
    return out


def per_layer(run):
    """Per-layer metrics from the traced passes, per traced pass."""
    r = run.r
    traced_ops = run.timed_ops(True)
    n = max(1, len([p for p in run.passes if p["str"].get("traced") == "1"]))
    op_ids = {o["id"] for o in traced_ops}
    windows = [(o["t0"], o["t1"]) for o in traced_ops]

    def under(name):
        return [s for s in run.spans
                if s["name"] == name and (run.op_of(s["parent"]) or {}).get("id") in op_ids]

    def ms(name):
        return sum(run.dur(s) for s in under(name)) / n

    jobs = [j for j in r["jobs"] if j["t1"] >= 0 and j["span"] >= 0
            and (run.op_of(j["span"]) or {}).get("id") in op_ids]
    construct_ids = {s["id"] for s in under("queries.construct")}

    def in_construct(span_id):
        while span_id >= 0:
            if span_id in construct_ids:
                return True
            span_id = run.by_id[span_id]["parent"]
        return False

    job_iv = clip([(j["t0"], j["t1"]) for j in jobs], windows)
    covered = union_length(job_iv)
    wall = sum(run.dur(o) for o in traced_ops)
    run_ms = sum(j["run_ms"] for j in jobs)
    qes = [q for q in r["qes"] if q["op"] in op_ids]
    point_ids = {o["id"] for o in traced_ops if o["name"] == "point"}
    returned = sum(o["num"].get("rows_returned", 0) for o in traced_ops if o["id"] in point_ids)
    examined = sum(q["scan_rows"] for q in qes if q["op"] in point_ids)

    commits = [(o["num"].get("meta_new_versions", 0), o["num"].get("meta_new_bytes", 0))
               for o in traced_ops if o["num"].get("meta_new_versions", 0) > 0]
    quarter = max(1, len(commits) // 4)

    def per_commit(part):
        c = sum(x[0] for x in part)
        return sum(x[1] for x in part) / c if c else 0.0

    meta_bytes = sum(o["num"].get("meta_new_bytes", 0) for o in traced_ops)
    meta_commits = sum(o["num"].get("meta_new_versions", 0) for o in traced_ops)
    version_json = [o["num"]["version_json_bytes"] for o in traced_ops
                    if "version_json_bytes" in o["num"]]
    rewrites = under("lake.maint.rewrite")
    expires = under("lake.maint.expire")
    verifies = [o for o in traced_ops if o["str"]["cls"] == "verify"]
    upgrades = [o for o in traced_ops if o["name"] == "upgrade"]
    dml = [o for o in traced_ops if o["str"]["cls"] == "write"]
    selfs = self_times(run.spans)
    facts = r["facts"]
    untraced = steady_wall(run.op_samples(False))
    traced = steady_wall(run.op_samples(True))
    m = {
        "queries.construct_ms": (ms("queries.construct"), "ms"),
        "queries.construct_jobs": (sum(1 for j in jobs if in_construct(j["span"])) / n, "count"),
        "queries.action_ms": (ms("queries.action"), "ms"),
        "spark.planning_ms": (sum(q["planning_ms"] for q in qes) / n, "ms"),
        "spark.jobs": (len(jobs) / n, "count"),
        "spark.stages": (sum(j["stages"] for j in jobs) / n, "count"),
        "spark.tasks": (sum(j["tasks"] for j in jobs) / n, "count"),
        "spark.task_run_s": (run_ms / 1000.0 / n, "s"),
        "spark.core_busy_ratio": (run_ms / (covered * CORES) if covered else 0.0, "ratio"),
        "spark.shuffle_bytes": (sum(j["shuffle_bytes"] for j in jobs) / n, "bytes"),
        "spark.spill_bytes": (sum(j["spill_bytes"] for j in jobs) / n, "bytes"),
        "spark.gc_s": (sum(j["gc_ms"] for j in jobs) / 1000.0 / n, "s"),
        "driver.gap_s": ((wall - covered) / 1000.0 / n, "s"),
        "lake.catalog.load_ms": (ms("lake.catalog.load"), "ms"),
        "lake.catalog.loads": (len(under("lake.catalog.load")) / n, "count"),
        "lake.meta.commits": (meta_commits / n, "count"),
        "lake.meta.snapshots_end": (facts.get("snapshots_end", 0), "count"),
        "lake.meta.metadata_bytes_written": (meta_bytes / n, "bytes"),
        "lake.meta.metadata_bytes_per_commit": (meta_bytes / meta_commits if meta_commits else 0.0, "bytes"),
        "lake.meta.bytes_per_commit_first_quarter": (per_commit(commits[:quarter]), "bytes"),
        "lake.meta.bytes_per_commit_last_quarter": (per_commit(commits[-quarter:]), "bytes"),
        "lake.meta.version_json_bytes": (version_json[-1] if version_json else 0.0, "bytes"),
        "lake.scan.files_live": (facts.get("files_live", 0), "count"),
        "lake.scan.delete_files_live": (facts.get("delete_files_live", 0), "count"),
        "lake.scan.files_read": (sum(q["files_read"] for q in qes) / n, "count"),
        "lake.scan.rows_examined_per_row_returned": (examined / returned if returned else 0.0, "ratio"),
        "lake.scan.bridged_scans": (sum(q["bridged"] for q in qes) / n, "count"),
        "lake.dml.delete_ms": (ms("lake.dml.delete"), "ms"),
        "lake.dml.update_ms": (ms("lake.dml.update"), "ms"),
        "lake.dml.insert_ms": (ms("lake.dml.insert"), "ms"),
        "lake.dml.data_files_added": (sum(o["num"].get("data_files_new", 0) for o in dml) / n, "count"),
        "lake.dml.delete_files_added": (sum(o["num"].get("delete_files_new", 0) for o in dml) / n, "count"),
        "lake.maint.rewrite_ms": (ms("lake.maint.rewrite"), "ms"),
        "lake.maint.rewrite_files_in": (sum(s["num"].get("rewritten_data_files_count", 0)
                                            + s["num"].get("removed_delete_files_count", 0)
                                            for s in rewrites) / n, "count"),
        "lake.maint.rewrite_files_out": (sum(s["num"].get("added_data_files_count", 0)
                                             for s in rewrites) / n, "count"),
        "lake.maint.rewrite_bytes": (sum(o["num"].get("data_bytes_new", 0) for o in upgrades) / n, "bytes"),
        "lake.maint.expire_ms": (ms("lake.maint.expire"), "ms"),
        "lake.maint.expire_files_deleted": (sum(s["num"].get("deleted_files_count", 0)
                                                for s in expires) / n, "count"),
        "ops.verify_ms": (sum(run.dur(o) for o in verifies) / n, "ms"),
        "ops.probe_failures": (sum(o["num"].get("probe_failures", 0) for o in verifies) / n, "count"),
        "ops.unattributed_ms": (sum(selfs[o["id"]] for o in traced_ops) / n, "ms"),
        "trace.untraced_wall_s": (untraced / 1000.0, "s"),
        "trace.traced_wall_s": (traced / 1000.0, "s"),
        "trace.overhead_ratio": (traced / untraced if untraced else 0.0, "ratio"),
    }
    return m
