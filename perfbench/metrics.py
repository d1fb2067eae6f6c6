"""Turns a harness result into the benchmark's metrics, checks outputs
against the stored expected results, and annotates host noise."""
import os
import re
import statistics

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# The modules that register queries, as named in graft's sources.
MODULES = ["Relational", "Relational2", "Relational3", "TextAnalysis", "Curation", "Dedup",
           "Similarity", "Events", "Graph", "Multimodal", "Udfs", "Skew", "Sources",
           "EventStream", "DedupStream"]

# Per-layer counters the harness records for each traced query, with units.
LAYER = {
    "ops.build_s": "s", "ops.action_s": "s",
    "scratch.builds": "count", "scratch.checkpoints": "count", "scratch.written_mb": "MB",
    "catalyst.executions": "count", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.stage_busy_s": "s", "exec.driver_gap_s": "s", "exec.task_run_s": "s",
    "exec.task_cpu_s": "s", "exec.task_gc_s": "s", "exec.slot_util": "ratio",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_records": "count", "exec.spill_mb": "MB",
    "scan.input_mb": "MB", "scan.input_records": "count",
    "scan.files_discovered": "count", "scan.file_cache_hits": "count",
    "write.output_mb": "MB", "write.output_records": "count",
    "stream.batches": "count", "stream.trigger_s": "s", "stream.add_batch_s": "s",
    "stream.query_planning_s": "s", "stream.wal_commit_s": "s",
    "stream.commit_offsets_s": "s", "stream.latest_offset_s": "s",
    "stream.get_batch_s": "s", "stream.state_commit_s": "s", "stream.state_rows": "count",
    "jvm.gc_s": "s", "jvm.jit_s": "s",
}
SETUP = ["setup.jvm_s", "setup.session_s", "setup.warmup_s"]
# Process-wide, once per run.
PROCESS = {"jvm.peak_rss_mb": "MB"}
TRACE = {"trace.warm_pass_s": "s", "trace.untraced_warm_pass_s": "s", "trace.overhead_s": "s"}


def cores():
    return len(os.sched_getaffinity(0))


def per_layer_names():
    """Every per-layer metric name with its unit, in report order."""
    out = {}
    for phase in ("cold", "warm"):
        for k, u in LAYER.items():
            out[f"{phase}.{k}"] = u
    for k in SETUP:
        out[k] = "s"
    out.update(PROCESS)
    for m in MODULES:
        out[f"module.{m}.cold_s"] = "s"
        out[f"module.{m}.warm_s"] = "s"
    out.update(TRACE)
    return out


# The warm passes that count: passes 3 to 5 of a run. Passes 1 and 2
# let the JIT settle. A run cut short by --seconds counts fewer passes,
# never earlier ones.
FIRST_COUNTED, LAST_PASS = 3, 5


def _split(execs):
    """Cold pass, and the warm passes that count."""
    cold = [e for e in execs if e["pass"] == 0]
    warm = [e for e in execs if e["pass"] >= FIRST_COUNTED]
    return cold, warm


def counted_passes(execs):
    return len({e["pass"] for e in execs if e["pass"] >= FIRST_COUNTED})


def _per_query_median_sum(execs, key):
    by = {}
    for e in execs:
        by.setdefault(e["q"], []).append(e[key])
    return sum(statistics.median(v) for v in by.values())


def end_to_end(res):
    """Metrics of an untraced run: name -> (value, unit)."""
    cold, warm = _split(res["execs"])
    return {
        "setup_s": (res["setup"]["setup_s"], "s"),
        "cold_pass_s": (sum(e["wall_s"] for e in cold), "s"),
        "warm_pass_s": (_per_query_median_sum(warm, "wall_s"), "s"),
        "warm_query_p50_s": (statistics.median(e["wall_s"] for e in warm), "s"),
        "warm_cpu_s": (_per_query_median_sum(warm, "cpu_s"), "s"),
        "live_heap_mb": (res["live_heap_mb"], "MB"),
        "scratch_mb": (res["scratch_mb"], "MB"),
    }


def per_layer(res):
    """Metrics of a traced run: name -> (value, unit). Cold values are
    the cold pass's sums; warm values are per traced warm pass."""
    cores_n = res["cores"]
    cold, warm = _split(res["execs"])
    traced_warm = [e for e in warm if e.get("traced")]
    n_traced = len({e["pass"] for e in traced_warm}) or 1
    units = per_layer_names()
    out = {}
    for phase, execs, div in (("cold", cold, 1), ("warm", traced_warm, n_traced)):
        tot = {k: sum(e.get("c", {}).get(k, 0.0) for e in execs) / div for k in LAYER}
        busy = tot["exec.stage_busy_s"]
        tot["exec.slot_util"] = tot["exec.task_run_s"] / (busy * cores_n) if busy > 0 else 0.0
        for k in LAYER:
            out[f"{phase}.{k}"] = tot[k]
    for k in SETUP:
        out[k] = res["setup"][k.split(".", 1)[1]]
    out["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    untraced_warm = [e for e in warm if not e.get("traced")]
    for m in MODULES:
        out[f"module.{m}.cold_s"] = sum((e["wall_s"] for e in cold if e["module"] == m), 0.0)
        out[f"module.{m}.warm_s"] = sum(
            (e["wall_s"] for e in traced_warm if e["module"] == m), 0.0) / n_traced
    traced = _per_query_median_sum(traced_warm, "wall_s") if traced_warm else 0.0
    untraced = _per_query_median_sum(untraced_warm, "wall_s") if untraced_warm else 0.0
    out["trace.warm_pass_s"] = traced
    out["trace.untraced_warm_pass_s"] = untraced
    out["trace.overhead_s"] = traced - untraced
    return {k: (v, units[k]) for k, v in out.items()}


def check(execs, expected):
    """Executions whose output is wrong or that raised: a list of
    {q, pass, why}. Queries with an oracle are checked by digest, the
    others by row count and schema."""
    bad = []
    for e in execs:
        want = expected.get(e["q"])
        if "error" in e:
            why = e["error"]
        elif want is None:
            why = "no expected result stored"
        elif "digest" in want:
            why = None if e["digest"] == want["digest"] else (
                f"digest differs ({e['rows']} rows, expected {want['rows']})")
        elif e["rows"] != want["rows"] or e["schema"] != want["schema"]:
            why = f"rows/schema differ: {e['rows']} {e['schema']}"
        else:
            why = None
        if why:
            bad.append({"q": e["q"], "pass": e["pass"], "why": why})
    return bad


def _cpu_ticks():
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:9]
    ticks = [int(x) for x in parts]
    return sum(ticks), ticks[7]


def _fs_type(path):
    best, fs = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            mnt, typ = line.split()[1:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, fs = mnt, typ
    return fs


class HostNoise:
    """Host conditions around one run. They annotate the result and
    change no metric."""

    def __init__(self, scratch_base):
        self.total0, self.steal0 = _cpu_ticks()
        self.scratch_base = scratch_base
        with open("/proc/loadavg") as f:
            self.load = float(f.read().split()[0])

    def finish(self, res):
        total, steal = _cpu_ticks()
        span = total - self.total0
        return {
            "steal_frac": (steal - self.steal0) / span if span > 0 else 0.0,
            "nproc": cores(),
            "loadavg_start": self.load,
            "scratch_fs": _fs_type(os.path.realpath(self.scratch_base)),
            "scratch_tmpfs": res.get("scratch_tmpfs"),
        }
