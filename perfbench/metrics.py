"""Metric computation for the perfbench harness.

The JVM side (perfbench/scala) writes every raw measurement of a run to a
JSON file: set-up samples, passes, ops with their task/io/plan figures,
layer counters and spans. This module turns that file into the metrics
BENCHMARK.json names. It is pure Python so its rules are unit-tested
without a JVM (perfbench/test_metrics.py).
"""

import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
MAX_END_TO_END = 16
MAX_PER_LAYER = 128
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MB = 1e6

DEDUP_QUERIES = (
    "doc_exact_dedup", "doc_minhash_dedup", "doc_jaccard_pairs_auto",
    "doc_containment_pairs_auto", "doc_dedup_corpus",
    "zipf_jaccard_auto", "zipf_containment_auto")
CHOOSER_CORPORA = ("dense_jaccard", "dense_containment", "zipf_jaccard", "zipf_containment")
# span name -> per-layer metric holding the sum of its self times
LAYER_SPANS = {
    "volume.MhdReader.read": "volume.MhdReader.read_s",
    "volume.ChunkKernels.upscale": "volume.ChunkKernels.upscale_s",
    "volume.ZarrStore.encode": "volume.ZarrStore.encode_s",
    "io.Fio.write": "io.Fio.write_s",
    "volume.AtomicDir.publish": "volume.AtomicDir.publish_s",
    "volume.ZarrStore.decode": "volume.ZarrStore.decode_s",
    "volume.RegionTable.join": "volume.RegionTable.join_s",
}
# the layers of the x15 layer pass, whose self times add up to `trace.layer_pass_s`
WRITE_LAYERS = ("volume.MhdReader.read", "volume.ChunkKernels.upscale",
                "volume.ZarrStore.encode", "io.Fio.write", "volume.AtomicDir.publish")

END_TO_END = (
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
)

PER_LAYER = (
    [("spark.tasks", "count"), ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"),
     ("spark.gc_s", "s"), ("spark.sched_delay_s", "s"), ("spark.shuffle_write_mb", "MB"),
     ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"),
     ("spark.core_occupancy", "ratio"), ("spark.session_start_s", "s"),
     ("proc.read_mb", "MB"), ("proc.write_mb", "MB"), ("proc.disk_write_mb", "MB"),
     ("proc.syscr", "count"), ("proc.syscw", "count"),
     ("sql.plan_ms", "ms"),
     ("volume.MhdReader.read_s", "s"), ("volume.MhdReader.read_mb", "MB"),
     ("volume.MhdReader.read_calls", "count"), ("volume.MhdReader.read_amplification", "ratio"),
     ("volume.ChunkKernels.upscale_s", "s"), ("volume.ChunkKernels.children", "count"),
     ("volume.ChunkKernels.out_mb", "MB"),
     ("volume.ZarrStore.encode_s", "s"), ("volume.ZarrStore.encode_chunks", "count"),
     ("volume.ZarrStore.encode_in_mb", "MB"), ("volume.ZarrStore.encode_out_mb", "MB"),
     ("volume.ZarrStore.decode_s", "s"), ("volume.ZarrStore.decode_chunks", "count"),
     ("io.Fio.write_s", "s"), ("io.Fio.write_mb", "MB"), ("io.Fio.files_created", "count"),
     ("volume.AtomicDir.publish_s", "s"),
     ("volume.ChunkVolume.lookup_chunks_decoded", "count"),
     ("volume.ChunkVolume.lookup_read_amplification", "ratio"),
     ("volume.ChunkVolume.verify_voxels", "count"),
     ("volume.ChunkVolume.histogram_labels", "count"),
     ("volume.RegionTable.join_s", "s")]
    + [(f"dedup.Dedup.{q}.{m}", u) for q in DEDUP_QUERIES
       for m, u in (("candidate_pairs", "count"), ("output_pairs", "count"),
                    ("pair_yield", "ratio"), ("postings_rows", "count"))]
    + [(f"dedup.Dedup.chooser_prefix.{c}", "bool") for c in CHOOSER_CORPORA]
    + [("op.upscale_gvox_per_s", "Gvoxel/s"), ("op.stored_bytes_ratio", "ratio"),
       ("op.verify_gvox_per_s", "Gvoxel/s"), ("op.lookup_ms_p50", "ms"),
       ("op.lookup_ms_tail", "ms"), ("op.lookup_tail_pct", "%"), ("op.lookup_samples", "count"),
       ("op.histogram_s", "s"), ("op.mix_s", "s"), ("op.failed_frac", "ratio"),
       ("cli.default_failed", "count"),
       ("trace.layer_pass_s", "s"), ("trace.overhead_s", "s")]
)


def check_names(end_to_end, per_layer):
    """Raise ValueError unless every metric name is valid, used once, and
    each list is within its cap."""
    if len(end_to_end) > MAX_END_TO_END:
        raise ValueError(f"{len(end_to_end)} end-to-end metrics, cap {MAX_END_TO_END}")
    if len(per_layer) > MAX_PER_LAYER:
        raise ValueError(f"{len(per_layer)} per-layer metrics, cap {MAX_PER_LAYER}")
    names = [n for n, _ in end_to_end] + [n for n, _ in per_layer]
    for n in names:
        if not NAME_RE.match(n):
            raise ValueError(f"bad metric name {n!r}")
    dup = {n for n in names if names.count(n) > 1}
    if dup:
        raise ValueError(f"metric names used twice: {sorted(dup)}")


def percentile(samples, p):
    """Nearest-rank percentile of a non-empty sample."""
    xs = sorted(samples)
    return xs[max(1, math.ceil(p / 100.0 * len(xs))) - 1]


def tail(samples):
    """(percentile, value): the highest percentile of TAIL_LADDER with at
    least ten samples strictly beyond it (nearest-rank). None when there
    are too few samples for any."""
    for p in TAIL_LADDER if samples else ():
        v = percentile(samples, p)
        if sum(1 for x in samples if x > v) >= 10:
            return p, v
    return None


def union_length(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Sum of self time per span name, in the spans' time unit. A span's
    self time is its duration minus the part of it its children cover."""
    children = {}
    for sid, parent, _name, t0, t1 in spans:
        children.setdefault(parent, []).append((t0, t1))
    out = {}
    for sid, _parent, name, t0, t1 in spans:
        covered = union_length(children.get(sid, ()), t0, t1)
        out[name] = out.get(name, 0.0) + max(0.0, (t1 - t0) - covered)
    return out


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def pass_costs(raw, traced=False):
    """(wall s, CPU s) of each window pass, summed over the ops inside it:
    the time spent in the program, not in the harness's output checks."""
    out = []
    for p in raw["passes"]:
        if p["traced"] != traced:
            continue
        ops = [o for o in raw["ops"] if p["t0"] <= o["t0"] and o["t1"] <= p["t1"]]
        out.append((sum((o["t1"] - o["t0"]) / 1e3 for o in ops), sum(o["cpu_s"] for o in ops)))
    return out


def end_to_end(raw, peak_rss_mb):
    """The end-to-end metrics of an untraced run."""
    costs = pass_costs(raw)
    return {
        "setup_s": _median(raw["setup_s"]),
        "pass_s": _median([w for w, _ in costs]),
        "cpu_s": _median([c for _, c in costs]),
        "peak_rss_mb": peak_rss_mb,
    }


def outcome(raw):
    """(correct, attempted, failed) over every op of the run."""
    ops = raw["ops"]
    wrong = sum(1 for o in ops if o["ok"] and not o["correct"])
    failed = sum(1 for o in ops if not o["ok"]) + wrong
    return wrong == 0, len(ops), failed


def per_layer(raw):
    """Every per-layer metric of a traced run (0 where the workload does
    not exercise the layer). Op, task and io figures come from the
    untraced half of the window; span self times from the traced half and
    the layer pass."""
    window = [o for o in raw["ops"] if o["phase"] == "window" and not o["traced"]]
    npass = max(1, sum(1 for p in raw["passes"] if not p["traced"]))
    values = raw.get("values", {})
    m = {name: 0.0 for name, _ in PER_LAYER}

    def tsum(key):
        return sum(o["tasks"].get(key, 0.0) for o in window)

    def iosum(key):
        return sum(o["io"].get(key, 0.0) for o in window)

    op_wall = sum((o["t1"] - o["t0"]) / 1e3 for o in window)
    m["spark.tasks"] = tsum("tasks") / npass
    m["spark.task_run_s"] = tsum("run_ms") / 1e3 / npass
    m["spark.task_cpu_s"] = tsum("cpu_ns") / 1e9 / npass
    m["spark.gc_s"] = tsum("gc_ms") / 1e3 / npass
    m["spark.sched_delay_s"] = tsum("sched_delay_ms") / 1e3 / npass
    m["spark.shuffle_write_mb"] = tsum("shuffle_write_bytes") / MB / npass
    m["spark.shuffle_read_mb"] = tsum("shuffle_read_bytes") / MB / npass
    m["spark.spill_mb"] = tsum("spill_bytes") / MB / npass
    if op_wall > 0:
        m["spark.core_occupancy"] = tsum("run_ms") / 1e3 / (op_wall * raw["cores"])
    m["spark.session_start_s"] = raw["session_start_s"]
    m["proc.read_mb"] = iosum("rchar") / MB / npass
    m["proc.write_mb"] = iosum("wchar") / MB / npass
    m["proc.disk_write_mb"] = iosum("write_bytes") / MB / npass
    m["proc.syscr"] = iosum("syscr") / npass
    m["proc.syscw"] = iosum("syscw") / npass
    plan_ms = [p["plan_ms"] for o in window for p in o["plans"]]
    m["sql.plan_ms"] = _median(plan_ms)

    # layer pass counters and span self times
    def count(key):
        return float(values.get(key, 0.0))
    m["volume.MhdReader.read_mb"] = count("volume.MhdReader.read_bytes") / MB
    m["volume.MhdReader.read_calls"] = count("volume.MhdReader.read_calls")
    if count("volume.MhdReader.source_bytes") > 0:
        m["volume.MhdReader.read_amplification"] = (
            count("volume.MhdReader.read_bytes") / count("volume.MhdReader.source_bytes"))
    m["volume.ChunkKernels.children"] = count("volume.ChunkKernels.children")
    m["volume.ChunkKernels.out_mb"] = count("volume.ChunkKernels.out_bytes") / MB
    m["volume.ZarrStore.encode_chunks"] = count("volume.ZarrStore.encode_chunks")
    m["volume.ZarrStore.encode_in_mb"] = count("volume.ZarrStore.encode_in_bytes") / MB
    m["volume.ZarrStore.encode_out_mb"] = count("volume.ZarrStore.encode_out_bytes") / MB
    m["volume.ZarrStore.decode_chunks"] = count("volume.ZarrStore.decode_chunks")
    m["io.Fio.write_mb"] = count("io.Fio.write_bytes") / MB
    m["io.Fio.files_created"] = count("io.Fio.files_created")
    selfs = {k: v / 1e3 for k, v in self_times(raw["spans"]).items()}
    for span, metric in LAYER_SPANS.items():
        m[metric] = selfs.get(span, 0.0)
    # the join span runs inside lookup ops: report it per lookup
    traced_lookups = [o for o in raw["ops"] if o["kind"] == "lookup" and o["traced"]]
    if traced_lookups:
        m["volume.RegionTable.join_s"] /= len(traced_lookups)
    m["trace.layer_pass_s"] = sum(selfs.get(s, 0.0) for s in WRITE_LAYERS)
    untraced_walls = [w for w, _ in pass_costs(raw)]
    traced_walls = [w for w, _ in pass_costs(raw, traced=True)]
    if traced_walls and untraced_walls:
        m["trace.overhead_s"] = _median(traced_walls) - _median(untraced_walls)

    # op-level figures of each workload
    def of(kind):
        return [o for o in window if o["kind"] == kind]
    x15 = of("x15_write")
    if x15:
        m["op.upscale_gvox_per_s"] = _median(
            [o["values"]["out_voxels"] / 1e9 / ((o["t1"] - o["t0"]) / 1e3) for o in x15])
        m["op.stored_bytes_ratio"] = _median(
            [o["values"]["stored_bytes"] / (o["values"]["out_voxels"] * 4) for o in x15])
    ver = of("verify")
    if ver:
        m["op.verify_gvox_per_s"] = _median(
            [o["values"]["voxels"] / 1e9 / ((o["t1"] - o["t0"]) / 1e3) for o in ver])
        m["volume.ChunkVolume.verify_voxels"] = ver[-1]["values"]["voxels"]
    hist = of("histogram")
    if hist:
        m["op.histogram_s"] = _median([(o["t1"] - o["t0"]) / 1e3 for o in hist])
        m["volume.ChunkVolume.histogram_labels"] = hist[-1]["values"]["labels"]
    # lookups from both halves: the tail needs every sample a run has
    look = [o for o in raw["ops"] if o["kind"] == "lookup" and o["phase"] == "window"]
    if look:
        lat = [o["t1"] - o["t0"] for o in look]
        m["op.lookup_ms_p50"] = percentile(lat, 50)
        m["op.lookup_samples"] = len(lat)
        t = tail(lat)
        if t:
            m["op.lookup_tail_pct"], m["op.lookup_ms_tail"] = t
        m["volume.ChunkVolume.lookup_chunks_decoded"] = _median(
            [o["tasks"]["shuffle_records_read"] for o in look])
        m["volume.ChunkVolume.lookup_read_amplification"] = _median(
            [o["io"].get("rchar", 0.0) / o["values"]["chunk_file_bytes"] for o in look
             if o["values"].get("chunk_file_bytes")])
    if any(o["kind"] in DEDUP_QUERIES for o in window):
        m["op.mix_s"] = _median(untraced_walls)
    for q in DEDUP_QUERIES:
        qs = of(q)
        if not qs:
            continue
        nodes = [n for p in qs[-1]["plans"] for n in p["nodes"]]
        cands = max([rows for name, rows, _ in nodes
                     if "Join" in name or "Generate" in name] or [0])
        out = qs[-1]["values"].get("rows", 0.0)
        m[f"dedup.Dedup.{q}.candidate_pairs"] = cands
        m[f"dedup.Dedup.{q}.output_pairs"] = out
        m[f"dedup.Dedup.{q}.pair_yield"] = out / cands if cands else 0.0
        m[f"dedup.Dedup.{q}.postings_rows"] = max(
            [rows for _, rows, postings in nodes if postings] or [0])
    for c in CHOOSER_CORPORA:
        m[f"dedup.Dedup.chooser_prefix.{c}"] = count(f"dedup.Dedup.chooser_prefix.{c}")
    m["cli.default_failed"] = count("cli.default_failed")
    _, attempted, failed = outcome(raw)
    m["op.failed_frac"] = failed / attempted if attempted else 0.0
    return m


def task_run_per_op(raw, kind):
    """Mean Spark task run seconds of the untraced window ops of `kind`."""
    ops = [o for o in raw["ops"] if o["kind"] == kind and o["phase"] == "window" and not o["traced"]]
    return sum(o["tasks"]["run_ms"] for o in ops) / 1e3 / len(ops) if ops else 0.0


def op_report(raw):
    """Rows of (kind, phase, count, median wall seconds) per op kind."""
    groups = {}
    for o in raw["ops"]:
        groups.setdefault((o["kind"], o["phase"]), []).append((o["t1"] - o["t0"]) / 1e3)
    return [(k, p, len(v), statistics.median(v)) for (k, p), v in groups.items()]


def span_report(spans):
    """Rows of (name, count, self seconds) for every span name, largest first."""
    counts = {}
    for _sid, _parent, name, _t0, _t1 in spans:
        counts[name] = counts.get(name, 0) + 1
    selfs = self_times(spans)
    return sorted(((n, counts[n], selfs[n] / 1e3) for n in counts), key=lambda r: -r[2])
